package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Qutil.rnd
import graft.functions.similarity._
import graft.hnsw.{HnswIndexer, HnswParams}
import graft.operators.{AnnLsh, KnnJoin, Recall}

/** Vector-search operator battery over the `embeddings` table.
  *
  * Covers O1/O2 (similarity kernels), B5 (brute-force exact k-NN — the
  * recall oracle, reference src/bench/metrics.ts:9-24), the embedding-cosine
  * near-duplicate self-join, and (once the HNSW model is wired in) the
  * approximate path O12 plus recall@k B6/B7.
  */
object VectorQueries {

  /** Session-scoped memo for fitted ANN models: the knn/recall battery
    * pairs (and hnsw_latency_summary) fit byte-identical models — training
    * is eager (sampling/Lloyd/graph build), so without a memo each pair
    * pays the fit twice. Keyed on (SparkContext identity, data dir, model
    * signature); bounded LRU so stale sessions can't accumulate. */
  // 64, not 16: one battery run touches 17+ distinct model keys per
  // data dir (bq, descstore×2, hnsw, ivf, ivfbq, ivfhnsw, ivfpq,
  // ivfrabitq, mlw2v, opq, pca, pq, rabitq, sgns, sgnssub, sq) — a
  // 16-entry LRU GUARANTEED eviction churn inside a single session:
  // models retrained mid-battery (deterministic, so correct, but the
  // r14opt baseline showed e.g. sgns_subword_knn swinging 3.1↔7.2 s
  // run-to-run purely from eviction order). Entries are per
  // (SparkContext, dir), so 64 covers two dirs' worth with slack;
  // models are MB-sized (largest: SGNS 2^16×32 floats ≈ 8 MB).
  // Shared impl: [[graft.SessionLru]] (eviction unpersists DataFrames).
  private val ModelMemo = new SessionLru(64)

  /** The memoized engine-trained SGNS model over the documents table —
    * shared by `sgns_knn` and `sgns_train_loss`, so the battery pays
    * the training loop once per session. Fit on a bounded 2.5k-doc
    * slice (the standard fit-on-sample/serve-everywhere split — the
    * bridge then embeds EVERY document with it), which keeps the
    * battery row's train cost flat across scale factors. */
  private def sgnsModel(s: SparkSession, dir: String): graft.operators.Sgns.Model =
    ModelMemo.get(s, s"sgns/d32w2n4e3/$dir")(
      graft.operators.Sgns.train(
        s.read.parquet(s"$dir/documents.parquet")
          .filter(col("text").isNotNull && col("doc_id") < 2500),
        // epochs = 3 for the BATTERY model (hygiene: the training loop
        // is a top-four battery cost; SgnsSpec gates loss monotonicity
        // and retrieval quality on its own trained models)
        dim = 32, window = 2, negatives = 4, epochs = 3, minCount = 2))

  private def hnswModel(s: SparkSession, dir: String): graft.hnsw.HnswModel =
    ModelMemo.get(s, s"hnsw/m16efc200p4/$dir")(
      HnswIndexer.fit(emb(s, dir),
        HnswParams(m = 16, efConstruction = 200, numPartitions = 4)))

  /** The battery's trained quantizers. Each is also the source of its
    * family's trained-literal oracle SQL (centroids, codebooks,
    * rotations written into DuckDB SQL — the LSH/SQ8 cross-engine recipe
    * extended to trained models): [[oracle]] reads the same memo entry,
    * so after a battery run it fits nothing. */
  private[graft] def ivfModel(s: SparkSession, dir: String): graft.operators.IvfFlat.Model =
    ModelMemo.get(s, s"ivf/c16/$dir")(
      graft.operators.IvfFlat.fit(emb(s, dir), numCells = 16))

  private def pqModel(s: SparkSession, dir: String): graft.operators.Pq.Model =
    ModelMemo.get(s, s"pq/s8c16/$dir")(
      graft.operators.Pq.fit(emb(s, dir), numSub = 8, codesPerSub = 16))

  private def opqModel(s: SparkSession, dir: String): graft.operators.Opq.Model =
    ModelMemo.get(s, s"opq/s8c16/$dir")(
      graft.operators.Opq.fit(emb(s, dir), numSub = 8, codesPerSub = 16))

  private def ivfpqModel(s: SparkSession, dir: String): graft.operators.IvfPq.Model =
    ModelMemo.get(s, s"ivfpq/c16s8c16r4p/$dir")(
      graft.operators.IvfPq.fit(emb(s, dir), numCells = 16,
        numSub = 8, codesPerSub = 16, opqIters = 4, packed = true))

  private def pcaModel(s: SparkSession, dir: String): graft.operators.Pca.Model =
    ModelMemo.get(s, s"pca/p16/$dir")(
      graft.operators.Pca.fit(emb(s, dir), p = 16))

  private def rabitqModel(s: SparkSession, dir: String): graft.operators.RabitQ.Model =
    ModelMemo.get(s, s"rabitq/s42/$dir")(
      graft.operators.RabitQ.fit(emb(s, dir), seed = 42L))

  /** Composed from the memoized IVF quantizer (same centroid literals as
    * `knn_ivf_cosine`). */
  private def ivfRabitqModel(s: SparkSession, dir: String)
      : graft.operators.IvfRabitq.Model =
    ModelMemo.get(s, s"ivfrabitq/c16s42/$dir")(
      graft.operators.IvfRabitq.fromIvf(ivfModel(s, dir), seed = 42L))

  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  private def probes(s: SparkSession, dir: String, n: Int = 100): DataFrame =
    emb(s, dir).filter(col("vec_id") < n)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))

  /** Exact top-10 over the standard 100-probe set — the truth side of
    * every recall_* entry and the knn_exact_* entries themselves.
    * NOT memoized (OPTIMIZATION r15): r14 cached these result heads
    * across battery entries, which made every recall/twin entry time a
    * persisted-head read instead of its declared serve+truth computation
    * (VERDICT r14 called it gaming). Models/indexes stay memoized —
    * build-once-serve-many is the declared lifecycle; RESULTS recompute
    * per entry. */
  private def exactKnn10(s: SparkSession, dir: String, metric: String,
      scoreDigits: Int): DataFrame =
    KnnJoin.exactKnnJoin(emb(s, dir), probes(s, dir), k = 10,
      metric = metric, scoreDigits = scoreDigits)

  /** The battery's 100 probes as a DuckDB relation (query_id, qv). */
  private val probesSql =
    """(SELECT vec_id AS query_id, embedding AS qv
      |   FROM embeddings WHERE vec_id < 100)""".stripMargin

  /** DuckDB twin of [[KnnJoin.exactKnnJoin]] over the `embeddings` rows
    * `e` that pass `where`: the top `k` of each probe of the relation `q`
    * (query_id, qv) by `metric`, scores floor-rounded to 1e-6 before
    * ranking, ties by neighbor_id. */
  private def exactTopkSql(metric: String, q: String, k: Int = 10,
      where: String = "true"): String = {
    val e = "CAST(e.embedding AS DOUBLE[])"
    val qv = "CAST(q.qv AS DOUBLE[])"
    val sim = metric match {
      case "cosine" => s"list_cosine_similarity($e, $qv)"
      case "euclidean" => s"1.0/(1.0 + list_distance($e, $qv))"
      case "dot" => s"list_inner_product($e, $qv)"
    }
    s"""SELECT query_id, neighbor_id, score, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, neighbor_id) AS rank FROM (
       |   SELECT q.query_id, e.vec_id AS neighbor_id,
       |    floor(($sim)*1e6 + 0.5)/1e6 AS score
       |   FROM embeddings e, $q q WHERE $where))
       |WHERE rank <= $k""".stripMargin
  }

  /** An ANN family's DuckDB twin: `cte` is a WITH prefix ending in the
    * CTE `topk` (query_id, neighbor_id, score, rank) over the battery's
    * probes, which it reads from the relation `q` (query_id, qv). */
  private final case class AnnCte(cte: String, topk: String, q: String)

  /** One ANN family, declared once. It yields the entry
    * `knn_<name>_<metric>` (`serve`: the top-10 of the 100 probes) and
    * `recall_<name>` (the micro-averaged recall@10 of `serve` against the
    * exact top-10 scored at `digits`), and, unless the family is
    * rows-only (`oracle` None), both DuckDB twins from `oracle`'s CTE. A
    * trained family's CTE carries its memoized model's literals; `fit`
    * names that model, and the twins are built only when a key of the
    * fit is wanted ([[SparkEntry.fittedFamily]]). */
  private final case class Ann(name: String, metric: String, digits: Int,
      serve: (SparkSession, String) => DataFrame,
      oracle: Option[(SparkSession, String) => AnnCte] = None,
      fit: Option[String] = None) {
    val knnKey = s"knn_${name}_${if (metric == "euclidean") "euclid" else metric}"
    val recallKey = s"recall_$name"
    def keys: Seq[String] = Seq(knnKey, recallKey)
  }

  private def ivfHnswModel(s: SparkSession, dir: String): graft.hnsw.IvfHnsw.Model =
    ModelMemo.get(s, s"ivfhnsw/c8m16/$dir")(
      graft.hnsw.IvfHnsw.fit(emb(s, dir), numCells = 8,
        graft.hnsw.HnswParams(m = 16, efConstruction = 200),
        balanceSlack = 0.2))

  private val anns: Seq[Ann] = Seq(
    // O3-O12: distributed HNSW approximate k-NN (4 partition-local
    // sub-indexes, shard-and-search). Non-SQL-expressible → rows-only gate;
    // quality is asserted by recall_hnsw (B6/B7 micro-averaged recall@10
    // vs the exact oracle) and the ScalaTest suite.
    Ann("hnsw", "cosine", -1, (s, dir) =>
      hnswModel(s, dir).knnJoin(probes(s, dir), k = 10, Some(100))),

    // LSH-bucketed ANN (the non-graph scale path): signature equi-join +
    // rerank. The hyperplanes are pure (seed, plane, dim) functions, so the
    // WHOLE approximate path is cross-engine oracle-checked: the DuckDB
    // oracle recomputes the same signatures from double literals of the
    // same planes (scores fixed-point-rounded before ranking on both sides).
    Ann("lsh", "cosine", 6, (s, dir) =>
      AnnLsh.lshKnnJoin(emb(s, dir), probes(s, dir), k = 10,
        numPlanes = 6, d = 64, numTables = 4, scoreDigits = 6),
      Some((_, _) => AnnCte(lshKnnCte, "lsh_topk", probesSql))),

    // IVF-Flat ANN (coarse-quantized scale path). Oracle-checked like
    // LSH/SQ8: the trained centroids are emitted as DuckDB literals from
    // the memoized [[ivfModel]], so the WHOLE approximate path
    // hash-matches cross-engine.
    Ann("ivf", "cosine", 6, (s, dir) =>
      graft.operators.IvfFlat.knnJoin(ivfModel(s, dir), probes(s, dir),
        k = 10, nprobe = 4, scoreDigits = 6),
      Some((s, dir) => AnnCte(graft.operators.IvfFlat.duckdbTopkCte(
        ivfModel(s, dir).centroids, nprobe = 4, k = 10), "ivf_topk", "ivf_q")),
      Some("ivf")),

    // PQ ANN (memory-bound scale path: 8-byte codes + ADC scan + exact
    // rerank). Oracle-checked like LSH/SQ8/IVF: the trained codebooks are
    // emitted as DuckDB literals from the memoized [[pqModel]], ADC
    // distances rank by the shared 1e-9-rounded (dist, cand_id) total
    // order, rerank scores by the 1e-6-rounded one — the WHOLE
    // product-code path hash-matches cross-engine. OperatorsSpec
    // additionally asserts recall floors incl. the exhaustive-rerank
    // exactness case.
    Ann("pq", "euclidean", 6, (s, dir) =>
      graft.operators.Pq.knnJoin(pqModel(s, dir), emb(s, dir),
        probes(s, dir), k = 10, rerank = 100, scoreDigits = 6,
        adcDigits = 9),
      Some((s, dir) => AnnCte(graft.operators.Pq.duckdbTopkCte(
        pqModel(s, dir).codebooks, rerank = 100, k = 10), "pq_topk", "pq_q")),
      Some("pq")),

    // IVF-PQ (the composed largest-corpus path: nprobe cell pruning ×
    // OPQ-rotated residual PQ codes in PACKED 4-bit nibbles × exact
    // rerank). Oracle-checked like its parents: every trained artifact
    // (centroids, codebooks, rotation) is emitted as DuckDB literals and
    // every stage's arithmetic + tie order is mirrored exactly
    // ([[graft.operators.IvfPq.duckdbTopkCte]]) — the full composed
    // approximate path hash-matches cross-engine. Spec additionally
    // asserts recall floors incl. the all-cells/full-rerank exactness
    // case and packed ≡ unpacked.
    Ann("ivfpq", "euclidean", 6, (s, dir) =>
      graft.operators.IvfPq.knnJoin(ivfpqModel(s, dir), emb(s, dir),
        probes(s, dir), k = 10, nprobe = 6, rerank = 150,
        scoreDigits = 6, adcDigits = 9),
      Some { (s, dir) =>
        val m = ivfpqModel(s, dir)
        AnnCte(graft.operators.IvfPq.duckdbTopkCte(m.centroids, m.codebooks,
          m.rotation, nprobe = 6, rerank = 150, k = 10), "pq_topk", "ipq_q")
      },
      Some("ivfpq")),

    // hybrid IVF→HNSW (cell-routed graph ANN): coarse cells bound WHICH
    // sub-graphs a query touches (nprobe/C of the corpus — sublinear,
    // unlike shard-and-search HNSW which fans every query to every
    // shard), per-cell HNSW answers inside them. Rows-only gate; spec
    // asserts recall floors incl. the all-cells == shard-and-search case.
    // balanceSlack = 0.2 explicitly (see ivfHnswModel): the battery ran
    // with the capped assignment in round 5
    Ann("ivfhnsw", "cosine", -1, (s, dir) =>
      graft.hnsw.IvfHnsw.knnJoin(ivfHnswModel(s, dir), probes(s, dir),
        k = 10, nprobe = 4)),

    // OPQ (learned-rotation PQ): same ADC+rerank scan as PQ, better code
    // quality under correlated dims. Oracle-checked like PQ — the learned
    // rotation is emitted as explicit left-associative dot-product
    // expressions CAST to REAL (bit-identical to [[Opq.rotate]]), then the
    // shared rounded-ADC/rerank total orders apply. Spec additionally
    // asserts the objective + recall floor.
    Ann("opq", "euclidean", 6, (s, dir) =>
      graft.operators.Opq.knnJoin(opqModel(s, dir), emb(s, dir),
        probes(s, dir), k = 10, rerank = 100, scoreDigits = 6,
        adcDigits = 9),
      Some { (s, dir) =>
        val m = opqModel(s, dir)
        AnnCte(graft.operators.Opq.duckdbTopkCte(m.rotation, m.pq.codebooks,
          rerank = 100, k = 10), "pq_topk", "pq_q")
      },
      Some("opq")),

    // SQ8 (scalar quantization): 4x-compressed int8 codes, ADC scan +
    // exact rerank. The encode is closed-form double arithmetic over
    // per-dim min/max, so — like the LSH path — the WHOLE approximate
    // pipeline is cross-engine ORACLE-checked: the DuckDB oracle
    // recomputes identical codes, ranks candidates by the same
    // (1e-9-rounded dist, cand_id) total order, and reranks with the
    // same rounded euclidean scores.
    Ann("sq", "euclidean", 6, (s, dir) =>
      graft.operators.Sq.knnJoin(
        ModelMemo.get(s, s"sq/8bit/$dir")(
          graft.operators.Sq.fit(emb(s, dir))),
        emb(s, dir), probes(s, dir), k = 10, rerank = 100,
        scoreDigits = 6),
      Some((_, _) => AnnCte(sqTopCte, "sq_topk", "q"))),

    // BQ (binary/sign quantization): 1 bit/dim packed into longs — 32×
    // smaller than float32; XOR+popcount Hamming scan + exact cosine
    // rerank. Midrange thresholds are order-independent exact arithmetic
    // and the candidate key (hamming, cand_id) is integer-valued, so the
    // WHOLE pipeline is cross-engine oracle-checked with no rounding
    // epsilon before the shared 1e-6 rerank.
    Ann("bq", "cosine", 6, (s, dir) =>
      graft.operators.Bq.knnJoin(
        ModelMemo.get(s, s"bq/1bit/$dir")(
          graft.operators.Bq.fit(emb(s, dir))),
        emb(s, dir), probes(s, dir), k = 10, rerank = 100,
        scoreDigits = 6),
      Some((_, _) => AnnCte(graft.operators.Bq.duckdbTopkCte(64), "bq_topk", "q"))),

    // RaBitQ (Gao & Long, SIGMOD 2024): seeded random rotation → sign
    // bits + ONE per-vector correction factor, served by the paper's
    // unbiased real-valued estimator instead of integer Hamming — the
    // answer to the round-10 BASELINE finding that plain BQ collapses at
    // d≥768 from Hamming-tie mass. Rotation is trained-literal data, all
    // derived arithmetic is explicit left-associative folds, so the WHOLE
    // pipeline is cross-engine oracle-checked like [[Pca]]/[[Opq]].
    Ann("rabitq", "cosine", 6, (s, dir) =>
      graft.operators.RabitQ.knnJoin(rabitqModel(s, dir), emb(s, dir),
        probes(s, dir), k = 10, rerank = 100, scoreDigits = 6),
      Some((s, dir) => AnnCte(graft.operators.RabitQ.duckdbTopkCte(
        rabitqModel(s, dir).rotation, nQueries = 100, rerank = 100, k = 10),
        "rbq_topk", "rbq_q")),
      Some("rabitq")),

    // IVF × BQ: the composition the round-8 compressed-scan ladder
    // measured its way to — cell-routed Hamming scan (scan AND candidate
    // exchange both divided by nprobe/C) + exact cosine rerank, with
    // RESIDUAL sign codes (bits of v − centroid[cell]) so the code
    // discriminates inside the cell the probe lands in. Composed from
    // the battery's memoized IVF quantizer, so the whole trained
    // pipeline is cross-engine oracle-checked from centroid literals.
    Ann("ivfbq", "cosine", 6, (s, dir) =>
      graft.operators.IvfBq.knnJoin(
        ModelMemo.get(s, s"ivfbq/c16r/$dir")(
          graft.operators.IvfBq.fromIvf(ivfModel(s, dir))),
        emb(s, dir), probes(s, dir), k = 10, nprobe = 4, rerank = 100,
        scoreDigits = 6),
      Some((s, dir) => AnnCte(graft.operators.IvfBq.duckdbTopkCte(
        ivfModel(s, dir).centroids, d = 64, nprobe = 4, rerank = 100,
        k = 10, residual = true), "ivfbq_topk", "ivf_q")),
      Some("ivf")),

    // IVF × RaBitQ: the paper's own deployment shape — residual sign
    // bits + per-vector factor behind the coarse quantizer, ranked by
    // the real-valued normalized estimator instead of residual Hamming.
    // Composed from the battery's memoized IVF quantizer so the whole
    // trained pipeline is oracle-checked from centroid + rotation
    // literals.
    Ann("ivfrabitq", "cosine", 6, (s, dir) =>
      graft.operators.IvfRabitq.knnJoin(ivfRabitqModel(s, dir),
        emb(s, dir), probes(s, dir), k = 10, nprobe = 4, rerank = 100,
        scoreDigits = 6),
      Some { (s, dir) =>
        val m = ivfRabitqModel(s, dir)
        AnnCte(graft.operators.IvfRabitq.duckdbTopkCte(m.centroids,
          m.rotation, m.rotCents, nprobe = 4, rerank = 100, k = 10,
          nQueries = 100), "ivfrbq_topk", "ivf_q")
      },
      Some("ivfrabitq")),

    // MRL (matryoshka) truncated-dim retrieval: candidates by cosine on
    // the first 16 of 64 dims (4× fewer bytes touched in the scan stage),
    // exact full-dim rerank. Fully declarative — two windows, no shuffle
    // of the base data — and fully cross-engine oracle-checked.
    Ann("mrl", "cosine", 6, (s, dir) =>
      graft.operators.Mrl.knnJoinTruncated(emb(s, dir), probes(s, dir),
        k = 10, prefixDims = 16, rerank = 100, scoreDigits = 6),
      Some((_, _) => AnnCte(graft.operators.Mrl.duckdbTopkCte(16), "mrl_topk", "q"))),

    // PCA-projected retrieval (trained dimensionality reduction): top-16
    // principal components learned from a seeded sample, candidates by
    // cosine in the projected space, exact full-dim rerank. The trained
    // (mean, weights) are emitted as DuckDB literals from the memoized
    // [[pcaModel]], so the WHOLE pipeline hash-matches cross-engine — the
    // learned twin of knn_mrl_cosine for embeddings without matryoshka
    // training.
    Ann("pca", "cosine", 6, (s, dir) =>
      graft.operators.Pca.knnJoin(pcaModel(s, dir), emb(s, dir),
        probes(s, dir), k = 10, rerank = 100, scoreDigits = 6),
      Some { (s, dir) =>
        val m = pcaModel(s, dir)
        AnnCte(graft.operators.Pca.duckdbTopkCte(m.mean, m.weights,
          nQueries = 100, rerank = 100, k = 10), "pca_topk", "pca_q")
      },
      Some("pca")))

  /** `recall_<f>`'s DuckDB twin: `o.topk` against the exact top-10 of the
    * same probes, micro-averaged like [[Recall.microAvgRecall]]. */
  private def recallSql(metric: String, o: AnnCte): String =
    s"""${o.cte},
       | exact_topk AS (
       |${exactTopkSql(metric, o.q)}),
       | per_q AS (SELECT x.query_id, CAST(count(*) AS BIGINT) AS total,
       |    CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS hits
       |   FROM exact_topk x LEFT JOIN ${o.topk} a
       |    ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
       |   GROUP BY x.query_id)
       |SELECT CAST(count(*) AS BIGINT) AS n_queries,
       | CAST(sum(hits) AS BIGINT) AS hits, CAST(sum(total) AS BIGINT) AS total,
       | CAST(sum(hits) AS DOUBLE)/CAST(sum(total) AS DOUBLE) AS recall
       |FROM per_q""".stripMargin

  /** Family `a`'s two DuckDB twins. */
  private def annSql(a: Ann, s: SparkSession, dir: String): Map[String, String] = {
    val o = a.oracle.get(s, dir)
    Map(a.knnKey ->
        s"""${o.cte}
           |SELECT query_id, neighbor_id, score, rank FROM ${o.topk}""".stripMargin,
      a.recallKey -> recallSql(a.metric, o))
  }

  /** Synthetic media table with REAL payloads: each embedding quantized
    * to 0..255 and encoded as an actual 8x8 grayscale BMP by the JDK
    * codec. Stands in for a `binaryFile` scan of an image corpus — the
    * downstream decode/pool/knn operators are the real kernels. */
  private def mediaBmp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    emb(s, dir).select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        (id, "image", graft.operators.Multimodal.encodeGray(
          graft.operators.Multimodal.quantize255(v), 8, 8), 8, 8)
      }
      .toDF("media_id", "media_type", "content", "width", "height")
  }

  /** Synthetic media table with REAL audio payloads: each embedding
    * quantized to PCM16 and wrapped in an actual RIFF/WAVE file. */
  private def mediaWav(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    emb(s, dir).select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        (id, "audio", graft.operators.Multimodal.encodePcm16Wav(
          graft.operators.Multimodal.quantizePcm16(v), 8000))
      }
      .toDF("media_id", "media_type", "content")
  }

  /** [[mediaBmp]] plus PNG RE-ENCODED twins of the first 20 images
    * (id + 1000000): byte-different codecs, identical pixels — the
    * codec-invariance corpus the image-dedup gates run on. */
  private def mediaBmpWithTwins(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val twins = emb(s, dir).filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        (id + 1000000L, "image", graft.operators.Multimodal.encodeGray(
          graft.operators.Multimodal.quantize255(v), 8, 8, "png"), 8, 8)
      }
      .toDF("media_id", "media_type", "content", "width", "height")
    mediaBmp(s, dir).unionByName(twins)
  }

  /** The image near-dup CLUSTER frame (media_id, cluster_id, kept):
    * perceptual aHash bands → collapsed near-dup edges → connected
    * components — shared by `media_dedup_keep` (the keep decision) and
    * `media_dedup_split` (the leakage-proof split routed through the
    * same clusters). */
  private def mediaDupClusters(s: SparkSession, dir: String): DataFrame = {
    // NOT memoized (OPTIMIZATION r15): r14 cached this cluster frame
    // across media_dedup_keep/media_dedup_split, so the second entry
    // timed a cache read instead of its declared decode → bands → edges
    // → CC computation (VERDICT r14: cross-query result memoization is
    // gaming). Each entry recomputes its own pipeline.
    val corpus = mediaBmpWithTwins(s, dir)
    val edges = graft.operators.ImageDup.nearDupEdges(
      graft.operators.ImageDup.aHashBands(
        graft.operators.Multimodal.decodeImagePooledRaw(corpus, grid = 8)),
      maxHamming = 10)
    graft.operators.Dedup.connectedComponents(
        corpus.select(col("media_id").as("doc_id")),
        edges.select("id1", "id2"))
      .select(col("doc_id").as("media_id"), col("cluster_id"),
        col("is_canonical").as("kept"))
  }

  /** [[mediaWav]] plus metadata-spliced TWINS of the first 20 payloads
    * (id + 1000000): a LIST/INFO chunk inserted between fmt and data —
    * byte-DIFFERENT files carrying byte-identical samples, the audio
    * analog of the PNG re-encode twins. RIFF size field fixed up. */
  private def mediaWavWithTwins(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val twins = emb(s, dir).filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val wav = graft.operators.Multimodal.encodePcm16Wav(
          graft.operators.Multimodal.quantizePcm16(v), 8000)
        val listChunk = "LIST".getBytes("US-ASCII") ++
          Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes("US-ASCII")
        val out = wav.slice(0, 36) ++ listChunk ++ wav.slice(36, wav.length)
        java.nio.ByteBuffer.wrap(out)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(4, out.length - 8)
        (id + 1000000L, "audio", out)
      }
      .toDF("media_id", "media_type", "content")
    mediaWav(s, dir).unionByName(twins)
  }

  /** Synthetic media table with REAL video payloads: each embedding cut
    * into four 16-dim slices, each slice a 4x4 grayscale frame of an
    * actual ANIMATED GIF (the JDK's native multi-frame container). */
  private def mediaGif(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    emb(s, dir).select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val frames = (0 until 4).map(f =>
          graft.operators.Multimodal.quantize255(v.slice(f * 16, f * 16 + 16)))
        (id, "video",
          graft.operators.Multimodal.encodeGrayGifFrames(frames, 4, 4))
      }
      .toDF("media_id", "media_type", "content")
  }

  /** BM25 top-20 lexical leg fused with exact-cosine top-20 by RRF —
    * shared by the `rrf_fusion_bm25` entry and the `rank_quality` eval. */
  private def rrfBm25Fused(s: SparkSession, dir: String): DataFrame = {
    // NOT memoized (OPTIMIZATION r15): r14 cached this fused head across
    // rrf_fusion_bm25 and rank_quality, making the second entry a cache
    // read (VERDICT r14: gaming). Each entry recomputes the lexical +
    // vector legs and the fuse — its declared computation.
    rrfFused(s, dir, graft.TextQueries.bm25FromIndex(s,
        graft.TextQueries.textIndex(s, dir), nq = 10, topk = 20)
      .select(col("qid").as("query_id"), col("doc_id"),
        col("rnk").as("rank")))
  }

  /** RRF top-10 of a lexical top-20 (query_id, doc_id, rank) of the first
    * 10 docs fused with the exact-cosine top-20 of the first 10 vectors. */
  private def rrfFused(s: SparkSession, dir: String,
      lexical: DataFrame): DataFrame = {
    val vector = KnnJoin.exactKnnJoin(emb(s, dir), probes(s, dir, 10),
        k = 20, metric = "cosine", scoreDigits = 6)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    graft.operators.Rrf.fuse(lexical, vector, k = 10)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
    // B5 exact k-NN, cosine — queries are the first 100 base vectors
    // (reference semantics, src/bench/run.ts:121-122: queries ⊆ base)
    "knn_exact_cosine" -> ((s, dir) =>
      exactKnn10(s, dir, "cosine", scoreDigits = 6)),

    // B5 exact k-NN, euclidean similarity 1/(1+L2) (src/similarity.ts:22-24)
    "knn_exact_euclid" -> ((s, dir) =>
      exactKnn10(s, dir, "euclidean", scoreDigits = 6)),

    // B5 exact k-NN, inner product (MIPS — additive beyond the reference's
    // metric pair; unnormalized embedding models rank by dot product)
    "knn_exact_dot" -> ((s, dir) =>
      exactKnn10(s, dir, "dot", scoreDigits = 6)),

    // hard-negative mining for contrastive training: per anchor (first
    // 50 vectors), the top-5 most-similar DIFFERENT-label vectors, with
    // the anchor's hardest-positive similarity and the FaceNet semi-hard
    // flag. Same no-base-shuffle broadcast shape as the exact kNN.
    "hard_negatives" -> ((s, dir) => {
      val e = emb(s, dir)
      val anchors = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_vec"), col("label").as("query_label"))
      graft.operators.Mining.hardNegatives(e, anchors, k = 5)
    }),

    // IVF-gated hard negatives — the SCALE path of hard_negatives:
    // candidates from each anchor's 4 nearest cells of the battery's
    // memoized IVF quantizer (~nprobe/C of the corpus per anchor),
    // escalating to wider probes for under-filled anchors. Oracle
    // composed from the same centroid literals as knn_ivf_cosine.
    "hard_negatives_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      val anchors = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_vec"), col("label").as("query_label"))
      graft.operators.Mining.hardNegativesIvf(e, ivfModel(s, dir), anchors,
        k = 5, nprobe = 4)
    }),

    // contrastive training triplets: hardest positive + top-3 hardest
    // negatives per anchor with the (pos − neg) margin — the data
    // product a metric-learning run consumes
    "training_triplets" -> ((s, dir) => {
      val e = emb(s, dir)
      val anchors = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("query_vec"), col("label").as("query_label"))
      graft.operators.Mining.trainingTriplets(e, anchors, negK = 3)
    }),

    // O1 kernel sanity: self dot product + L2 norm per vector
    "vec_norms" -> ((s, dir) =>
      emb(s, dir).select(col("vec_id"), col("label"),
        rnd(dot_product(col("embedding"), col("embedding")), 6).as("self_dot"),
        rnd(sqrt(dot_product(col("embedding"), col("embedding"))), 6).as("l2_norm"))),

    // embedding-cosine near-duplicate pairs — the BRUTE-FORCE small-sf
    // oracle twin of near_dup_embeddings_lsh below (all-pairs; never the
    // scale path). Threshold 0.4 ≈ the 99.9th percentile of this corpus's
    // pairwise cosine, so the gate exercises real pairs.
    "near_dup_embeddings" -> ((s, dir) => {
      val a = emb(s, dir).select(col("vec_id").as("id1"), col("embedding").as("e1"))
      val b = emb(s, dir).select(col("vec_id").as("id2"), col("embedding").as("e2"))
      a.join(b, col("id1") < col("id2"))
        .select(col("id1"), col("id2"),
          rnd(cosine_sim(col("e1"), col("e2")), 6).as("cos_sim"))
        .filter(col("cos_sim") >= 0.4)
    }),

    // the scale-safe near-dup path: LSH bucket prefilter + exact cosine
    // rerank — same output contract as near_dup_embeddings (which stays
    // only as the small-sf brute-force oracle twin). No cartesian anywhere
    // (PlanSpec-guarded); oracle SQL mirrors the banding exactly.
    "near_dup_embeddings_lsh" -> ((s, dir) =>
      AnnLsh.lshNearDupPairs(emb(s, dir), threshold = 0.4,
        numPlanes = 6, d = 64, numTables = 4)),

    // SemDeDup-style semantic dedup: IVF-cell clustering + within-cell
    // keep-first cosine pruning. Oracle-checked from the SAME memoized
    // centroid literals as knn_ivf (the trained-quantizer recipe); the
    // only pairwise work is a cell equi-join (PlanSpec no-cartesian).
    "semdedup_embeddings" -> ((s, dir) =>
      graft.operators.SemDedup.dedup(ivfModel(s, dir), threshold = 0.8)),

    // SSL-prototype data pruning (Sorscher et al. shape): keep the
    // hardest half of each coarse cluster, prune the most prototypical
    // examples. Pure projection + one cell-partitioned window — no
    // pairwise work; oracle-checked from the same trained centroid
    // literals as knn_ivf.
    "prune_prototypes" -> ((s, dir) =>
      graft.operators.Prune.prototypes(ivfModel(s, dir), keepFrac = 0.5)),

    // external clustering quality of the trained quantizer vs labels:
    // purity + NMI from the exact contingency table — one corpus pass,
    // all log arithmetic over the C×L table; oracle-checked from the
    // same trained centroid literals as knn_ivf.
    "cluster_eval" -> ((s, dir) =>
      graft.operators.ClusterEval.eval(ivfModel(s, dir),
        emb(s, dir).select("vec_id", "label"))),

    // metadata-FILTERED ANN with a k-result guarantee
    // ([[graft.operators.FilteredAnn]]): probe-then-filter escalates the
    // candidate fetch and falls back to the exact scan over the filtered
    // base, so a selective predicate returns min(k, matches) rows instead
    // of silently fewer. Here the predicate keeps 15 rows < k = 20, which
    // forces the exact-fallback branch deterministically at every sf —
    // the guarantee itself is what the hash-match oracle checks (the
    // DuckDB twin is the exact filtered top-k).
    "knn_filtered_guarantee" -> ((s, dir) => {
      // lazy: the bounded pre-probe (matches < k) skips the escalation
      // rounds entirely, so the index is never touched — and never fitted
      lazy val model = ivfHnswModel(s, dir)
      graft.operators.FilteredAnn.knnJoin(
        emb(s, dir), probes(s, dir), k = 20, col("vec_id") < 15,
        (q, kp, _) => graft.hnsw.IvfHnsw.knnJoin(model, q, kp, nprobe = 4),
        metric = "cosine", scoreDigits = 6)
    }),

    // serving-THROUGHPUT summary (VERDICT-r5 #8): every base vector becomes
    // a probe and is pushed through the batched cell-routed hybrid — the
    // battery's r-vs-r tracker for the serving path measured at 1M/10M
    // scale in BASELINE.md round 6. Rows-only by nature (wall-clock content);
    // the row-count column is still a hard correctness check (n·k rows or
    // the serving path dropped probes).
    "hybrid_serving_summary" -> ((s, dir) => {
      val model = ivfHnswModel(s, dir)
      val allProbes = emb(s, dir)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val nq = allProbes.count()
      val t0 = System.nanoTime()
      val rows = graft.hnsw.IvfHnsw
        .knnJoinBatched(model, allProbes, k = 10, nprobe = 2, batchRows = 100000)
        .count()
      val wall = (System.nanoTime() - t0) / 1e9
      import s.implicits._
      Seq((nq, rows, math.floor(wall * 1000) / 1000, math.floor(nq / wall)))
        .toDF("n_queries", "result_rows", "wall_s", "qps")
    }),

    // hybrid lexical+vector retrieval via reciprocal-rank fusion
    // ([[graft.operators.Rrf]]): lexical side is the inverted-index shape
    // (distinct query terms equi-joined to distinct corpus terms — NEVER a
    // doc×doc cross join), vector side is the exact cosine top-k; fusion is
    // a bounded full-outer join over the two |Q|·k ranked heads. The RRF
    // rank arithmetic is exactly SQL-expressible, so the whole composition
    // is cross-engine oracle-checked.
    "rrf_fusion" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val terms = d.select(col("doc_id"),
        explode(array_distinct(split(trim(col("text")), "\\s+"))).as("term"))
      val overlap = terms.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"), col("term"))
        .join(terms, Seq("term"))
        .groupBy("query_id", "doc_id").agg(count(lit(1)).as("overlap"))
      val wl = Window.partitionBy("query_id")
        .orderBy(col("overlap").desc, col("doc_id").asc)
      rrfFused(s, dir, overlap.withColumn("rank", row_number().over(wl))
        .filter(col("rank") <= 20).select("query_id", "doc_id", "rank"))
    }),

    // RRF fusion with the REAL lexical scorer: BM25 top-20 per query doc
    // (served from the persisted [[graft.operators.TextIndex]], which is
    // spec-pinned bit-identical to [[graft.TextQueries.bm25Ranked]])
    // fused with exact-cosine top-20 over the same ids. The production
    // hybrid-retrieval composition (BM25 ⊕ dense) end to end, and every
    // stage — BM25 arithmetic, cosine ranking, reciprocal-rank sum — is
    // SQL-expressible, so the whole pipeline is cross-engine
    // oracle-checked. Same O(|Q|·k) fusion bound: only ranked heads join.
    "rrf_fusion_bm25" -> ((s, dir) => rrfBm25Fused(s, dir)),

    // ranked-retrieval quality metrics ([[graft.operators.RankEval]]):
    // per-query reciprocal rank + nDCG@10 of the BM25⊕dense fused list
    // against the exact-cosine top-10 as binary-relevance truth — the
    // standard order-quality eval pair completing the recall@k coverage
    // metrics. Bounded heads only (|Q|·k rows); corpus-size-independent.
    "rank_quality" -> ((s, dir) => {
      val fused = rrfBm25Fused(s, dir).select("query_id", "doc_id", "rank")
      val truth = KnnJoin.exactKnnJoin(emb(s, dir), probes(s, dir, 10),
          k = 10, metric = "cosine", scoreDigits = 6)
        .select(col("query_id"), col("neighbor_id").as("doc_id"))
      graft.operators.RankEval.rankMetrics(fused, truth, k = 10)
    }),

    // B8 reference-shaped latency summary for the HNSW path: per-query
    // critical-path shard search times → count/avg + exact nearest-rank-
    // floor percentiles flattened to one scalar column per rank (the
    // reference's searchLatencyMs record: count/avg/p50/p90/p95/p99,
    // src/bench/run.ts:43-53 + src/bench/metrics.ts:46-68). Rows-only:
    // timings are machine-dependent by nature.
    "hnsw_latency_summary" -> ((s, dir) => {
      import graft.functions.FloorPercentiles.floor_percentiles
      val (_, latencies) =
        hnswModel(s, dir).knnJoinTimed(probes(s, dir), k = 10, Some(100))
      latencies.agg(
        count(lit(1)).as("n_queries"),
        rnd(avg("search_ms"), 3).as("avg_ms"),
        floor_percentiles(col("search_ms"), Seq(0.50, 0.90, 0.95, 0.99)).as("pcts"))
        .select(col("n_queries"), col("avg_ms"),
          rnd(element_at(col("pcts"), 1), 3).as("p50_ms"),
          rnd(element_at(col("pcts"), 2), 3).as("p90_ms"),
          rnd(element_at(col("pcts"), 3), 3).as("p95_ms"),
          rnd(element_at(col("pcts"), 4), 3).as("p99_ms"))
    }),

    // REAL image pipeline, fully oracle-gated: each embedding rendered
    // as an actual 8x8 grayscale BMP (JDK ImageIO codec), decoded back
    // through the real decoder, 2x2-average-pooled to 16 luma features.
    // BMP is lossless and the quantization arithmetic is explicit-
    // parenthesized double math, so DuckDB reproduces every feature
    // bit-for-bit STRAIGHT FROM THE EMBEDDING — the oracle covers
    // encode, the codec round-trip, luma, and pooling end to end.
    "media_image_features" -> ((s, dir) =>
      graft.operators.Multimodal.decodeImagePooled(mediaBmp(s, dir), grid = 4)
        .select(col("media_id"), col("img_w"), col("img_h"),
          posexplode(col("feature")))
        .toDF("media_id", "img_w", "img_h", "block", "luma")),

    // REAL audio pipeline, fully oracle-gated: embeddings as PCM16
    // waveforms in actual RIFF/WAVE payloads (canonical 44-byte header),
    // decoded by the chunk-walking parser; per-window RMS + whole-signal
    // zero-crossing count — integer sums, double sqrt, 1e-6 fixed point.
    "media_audio_features" -> ((s, dir) =>
      graft.operators.Multimodal.decodeWavFeatures(
        mediaWav(s, dir), windows = 8)),

    // audio FINGERPRINT (Haitsma-Kalker sign-of-energy-delta, in-kernel,
    // zero shuffle): the corpus carries metadata-spliced twins — byte-
    // different RIFF files, identical samples — which MUST fingerprint
    // identically (the parser sees through LIST chunks).
    "media_audio_fingerprint" -> ((s, dir) =>
      graft.operators.Multimodal.audioFingerprint(
        mediaWavWithTwins(s, dir), windows = 33)),

    // ...and the exact-fingerprint dedup pairs: every twin pairs with
    // its original — audio's leg of the modality-dedup matrix (text
    // minhash/simhash, embeddings semdedup, images aHash, audio this).
    "media_audio_dup_pairs" -> ((s, dir) => {
      val fps = graft.operators.Multimodal.audioFingerprint(
        mediaWavWithTwins(s, dir), windows = 33)
      fps.as("a").join(fps.as("c"),
          col("a.fp") === col("c.fp") &&
            col("a.media_id") < col("c.media_id"))
        .select(col("a.media_id").as("id1"), col("c.media_id").as("id2"),
          col("a.fp"))
    }),

    // 1-bit MULTIPROBE banding at a wider threshold: recall certain to
    // Hamming 7 (pigeonhole over 4 bands × 1 flipped bit) instead of 3,
    // still an equi-join — the AnnLsh multiprobe idea on the band side.
    "media_phash_pairs_mp" -> ((s, dir) =>
      graft.operators.ImageDup.nearDupPairs(
        graft.operators.ImageDup.aHashBands(
          graft.operators.Multimodal.decodeImagePooledRaw(
            mediaBmpWithTwins(s, dir), grid = 8)),
        maxHamming = 16, probeBits = 1)),

    // ...and the full multimodal dedup LOOP: perceptual pairs →
    // connected components (the text stack's adaptive union-find /
    // pointer-jumping operator, reused unchanged on image edges) → keep
    // the canonical copy per cluster. Every PNG twin must land in its
    // original's cluster and lose the keep.
    // the engine side runs the COLLAPSED edge set (nearDupEdges — exact
    // hash groups as linear stars, banding over representatives; the 10M
    // scale path), the oracle the pairwise closure: components are
    // provably identical (members share their rep's hash), spec-pinned
    "media_dedup_keep" -> ((s, dir) => mediaDupClusters(s, dir)),

    // CROSS-MODAL leakage-proof split (VERDICT r11 #4): the image
    // near-dup clusters routed through the SAME cluster-hash split
    // arithmetic the text corpus gets (Dedup.clusterAwareSplit) — a
    // PNG twin of a training image can never land in eval, and
    // `cluster_leaky` measures exactly the contamination a per-image
    // naive split would have caused. Both halves were already oracled;
    // the composition is oracle-gated end to end (recursive-CTE closure
    // + identical md5 split arithmetic in DuckDB).
    "media_dedup_split" -> ((s, dir) =>
      graft.operators.Dedup.clusterAwareSplit(
          mediaDupClusters(s, dir), idCol = "media_id")
        .select("media_id", "cluster_id", "kept", "split", "naive_split",
          "cluster_leaky")),

    // REAL video pipeline, fully oracle-gated: embeddings as 4-frame
    // animated GIFs (the JDK's multi-frame codec), frames iterated by
    // the real ImageReader, each pooled to luma features — GIF is
    // lossless for grayscale, so DuckDB re-derives every frame's
    // features straight from the embedding slices.
    "media_video_frames" -> ((s, dir) =>
      graft.operators.Multimodal.decodeVideoFramesPooled(
          mediaGif(s, dir), grid = 4)
        .select(col("media_id"), col("frame_no"), col("n_frames"),
          posexplode(col("feature")))
        .toDF("media_id", "frame_no", "n_frames", "block", "luma")),

    // store OBSERVABILITY (VERDICT r10 #7): one describe() row per
    // persisted-index kind — a quantized vector store (build + one
    // append epoch + pending deletes), a BM25 text index (build +
    // append + delete), an image-hash band store (two batch epochs +
    // delete) — union'd into the fleet-dashboard frame. Live/deleted
    // rows, epochs, and the evaluated compaction triggers are exact
    // and data-determined; bytes_on_disk is layout-dependent by nature
    // (rows-only entry). Drift/compaction decisions become queries
    // over this frame instead of recomputations.
    "index_describe" -> ((s, dir) => {
      // stores sized for the OBSERVABILITY gate, not serving (battery
      // hygiene, VERDICT r11 #7): the BQ store keeps its full
      // build/append/remove lifecycle on a 200-vector slice; the text
      // row describes the SHARED bm25_incremental index (one build per
      // session across both entries — append-epoch + growth visible,
      // deletes demonstrated by the other two rows); the image store
      // keeps its delete lifecycle on a 100-media slice
      val bqPath = ModelMemo.get(s, s"descstore/bq/$dir") {
        val p = java.nio.file.Files
          .createTempDirectory("graft_desc_bq").toString
        val e200 = emb(s, dir).filter(col("vec_id") < 200)
        graft.streaming.IncrementalBqIndex.build(
          e200.filter(col("vec_id") % 4 =!= 0), p, numCells = 8)
        graft.streaming.IncrementalBqIndex.append(
          e200.filter(col("vec_id") % 4 === 0), p,
          epochTag = Some("e1"))
        graft.streaming.IncrementalBqIndex.remove(
          e200.filter(col("vec_id") < 5).select("vec_id"), p)
        p
      }
      val tixPrefix = TextQueries.incrementalTextIndex(s, dir)
      val imgPath = ModelMemo.get(s, s"descstore/img/$dir") {
        val p = java.nio.file.Files
          .createTempDirectory("graft_desc_img").toString
        val imgs = mediaBmp(s, dir).filter(col("media_id") < 100)
        graft.operators.ImageDup.hashAppend(
          imgs.filter(col("media_id") < 50), p, epochTag = "0")
        graft.operators.ImageDup.hashAppend(
          imgs.filter(col("media_id") >= 50), p, epochTag = "1")
        graft.operators.ImageDup.remove(
          imgs.filter(col("media_id") < 2).select("media_id"), p)
        p
      }
      graft.streaming.IncrementalBqIndex.describe(s, bqPath)
        .unionByName(graft.operators.TextIndex.describe(s, tixPrefix))
        .unionByName(graft.operators.ImageDup.describe(s, imgPath))
        // location/bytes are machine/layout-dependent — project the
        // data-determined columns for the battery artifact, assert the
        // byte counter is live rather than its exact value
        .select(col("store_kind"), col("family"), col("live_rows"),
          col("deleted_rows"), col("epochs"),
          (col("bytes_on_disk") > 0).as("has_bytes"),
          rnd(col("growth_since_fit"), 4).as("growth_since_fit"),
          col("needs_compaction"))
        .orderBy("store_kind")
    }),

    // perceptual image hashing (aHash): real decode → 8x8 integer luma
    // grid → 64-bit mean-threshold signature as 4x16-bit bands. Exact
    // integer arithmetic end to end — oracled from the pixel values.
    "media_ahash" -> ((s, dir) =>
      graft.operators.ImageDup.aHashBands(
        graft.operators.Multimodal.decodeImagePooledRaw(
          mediaBmp(s, dir), grid = 8))),

    // DCT perceptual hash (pHash proper): 2-D integer DCT of the same
    // pooled grid, 63 AC coefficients thresholded against their median
    // — the structure-sensitive rung above media_ahash's mean
    // threshold, same band layout, same exact-arithmetic oracle (DuckDB
    // re-derives the DCT from raw pixels with the identical fixed-point
    // basis table).
    "media_dcthash" -> ((s, dir) =>
      graft.operators.ImageDup.dctHashBands(
        graft.operators.Multimodal.decodeImagePooledRaw(
          mediaBmp(s, dir), grid = 8))),

    // ...and the near-dup pairs it yields on the twin corpus: lossless
    // re-encodes still land at Hamming 0 (same pixels → same DCT), and
    // the banding/confirm path is nearDupPairs unchanged.
    "media_dcthash_pairs" -> ((s, dir) =>
      graft.operators.ImageDup.nearDupPairs(
        graft.operators.ImageDup.dctHashBands(
          graft.operators.Multimodal.decodeImagePooledRaw(
            mediaBmpWithTwins(s, dir), grid = 8)),
        maxHamming = 10)),

    // image near-dup pairs: band-equality LSH candidates + exact 64-bit
    // Hamming confirm — the multimodal leg of the dedup family, same
    // banded never-all-pairs shape as simhash_near_dup. The corpus gets
    // PNG RE-ENCODED twins of the first 20 images (id + 1000000): the
    // codec-invariance that makes a perceptual hash a dedup signal —
    // every twin must pair with its original at Hamming 0, through two
    // genuinely different codecs' bytes.
    "media_phash_pairs" -> ((s, dir) =>
      graft.operators.ImageDup.nearDupPairs(
        graft.operators.ImageDup.aHashBands(
          graft.operators.Multimodal.decodeImagePooledRaw(
            mediaBmpWithTwins(s, dir), grid = 8)),
        maxHamming = 10)),

    // multimodal features feed straight into the similarity operators —
    // the media→embedding→retrieval composition, now REAL end to end:
    // BMP bytes → real decode → pooled luma features → exact cosine
    // top-k, hash-matched cross-engine like knn_docs_hashbow.
    "multimodal_knn" -> ((s, dir) => {
      val feats = graft.operators.Multimodal
        .decodeImagePooled(mediaBmp(s, dir), grid = 4)
        .select(col("media_id").as("vec_id"),
          col("feature").cast("array<float>").as("embedding"))
      val mprobes = feats.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      KnnJoin.exactKnnJoin(feats, mprobes, k = 5, metric = "cosine", scoreDigits = 6)
    }),

    // EXTERNAL-EMBEDDING BRIDGE → exact kNN (VERDICT r11 #1): text runs
    // through the batched ModelRunner contract (mapPartitions, open/
    // close lifecycle, batchSize backpressure) with the deterministic
    // md5 stub standing in for the model, then straight into the
    // already-oracled brute-force cosine top-k. The stub's fixed-point
    // arithmetic is engine-portable, so the WHOLE composition —
    // inference plumbing included — hash-matches DuckDB; swap the stub
    // for a real model and only the vectors change, not the plumbing.
    "bridge_knn" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("text").isNotNull)
      val embedded = graft.operators.EmbeddingBridge.embed(
        d, new graft.operators.HashStubModel(16), batchSize = 64)
      val bprobes = embedded.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"),
          col("embedding").as("query_vec"))
      KnnJoin.exactKnnJoin(embedded, bprobes, k = 5, metric = "cosine",
        baseId = "doc_id", scoreDigits = 6)
    }),

    // LEARNED embeddings end to end (VERDICT r12 #1): the engine TRAINS
    // its own SGNS word2vec on the corpus (synchronous fixed-point
    // gradient descent — bit-deterministic under any partitioning),
    // serves it through the SAME ModelRunner bridge as the stub above,
    // and feeds the already-oracled exact kNN. Rows-only by nature
    // (iterative training isn't SQL-expressible); the gates live in
    // SgnsSpec: layout determinism, loss monotonicity, planted-synonym
    // recovery beating the hash stub, and MLlib Word2Vec parity.
    "sgns_knn" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("text").isNotNull)
      val embedded = graft.operators.EmbeddingBridge.embed(
        d, new graft.operators.Sgns.Runner(sgnsModel(s, dir)), batchSize = 64)
      val sprobes = embedded.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"),
          col("embedding").as("query_vec"))
      KnnJoin.exactKnnJoin(embedded, sprobes, k = 5, metric = "cosine",
        baseId = "doc_id", scoreDigits = 6)
    }),

    // the trainer's observability row: per-epoch mean SGNS loss of the
    // memoized model — a healthy run decreases monotonically (the spec
    // pins it; this row makes the curve a driver-visible artifact)
    "sgns_train_loss" -> ((s, dir) =>
      graft.operators.Sgns.lossCurve(s, sgnsModel(s, dir))),

    // SUBWORD (BPE-unit) SGNS through the same bridge: the trained
    // tokenizer composed with the trainer, so OOV/misspelled words
    // embed from pieces instead of the zero vector. Rows-only by
    // nature; the OOV/typo-retrieval gates live in SgnsSpec. Bounded
    // embed set keeps the row's serve cost flat across scale factors.
    "sgns_subword_knn" -> ((s, dir) => {
      val (bpe, model) = ModelMemo.get(s, s"sgnssub/$dir") {
        val slice = s.read.parquet(s"$dir/documents.parquet")
          .filter(col("text").isNotNull && col("doc_id") < 2500)
        val b = graft.operators.Bpe.train(slice, numMerges = 200)
        (b, graft.operators.Sgns.trainSubword(slice, b, dim = 32,
          window = 2, negatives = 4, epochs = 3, minCount = 2))
      }
      val d = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("text").isNotNull && col("doc_id") < 5000)
      val embedded = graft.operators.EmbeddingBridge.embed(
        d, new graft.operators.Sgns.SubwordRunner(model, bpe),
        batchSize = 64)
      val sprobes = embedded.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"),
          col("embedding").as("query_vec"))
      KnnJoin.exactKnnJoin(embedded, sprobes, k = 5, metric = "cosine",
        baseId = "doc_id", scoreDigits = 6)
    }),

    // MLlib Word2Vec doc vectors → exact kNN: the cross-implementation
    // twin of sgns_knn (MLlib's mean-of-words transform over the same
    // tokenization), the "use MLlib where it fits" integration row
    "mllib_word2vec_knn" -> ((s, dir) => {
      val dv = ModelMemo.get(s, s"mlw2v/$dir") {
        // fit on the SAME bounded 2.5k-doc slice as sgnsModel (battery
        // hygiene: the single-partition MLlib fit over the full corpus
        // was one of the top-four battery costs), transform everywhere
        val all = s.read.parquet(s"$dir/documents.parquet")
          .filter(col("text").isNotNull)
        val d = graft.operators.MlLsh.word2VecDocVecs(all,
          fitDocs = Some(all.filter(col("doc_id") < 2500))).persist()
        d.count(); d
      }
      val wprobes = dv.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"),
          col("embedding").as("query_vec"))
      KnnJoin.exactKnnJoin(dv, wprobes, k = 5, metric = "cosine",
        baseId = "doc_id", scoreDigits = 6)
    }),

    // NOTE: the fallback STUB kernel (decodeFeaturesStub — the swap-in
    // shape for codecs the JDK lacks, MP4/H.264 ...) is spec-gated in
    // OperatorsSpec ("multimodal stub plumbing"), not a battery row:
    // image, audio, AND video (animated GIF) are REAL + oracled above,
    // so the stub pins only the batched-decode contract, which a spec
    // gates tighter than a rows-only battery slot.

    // MLlib-estimator LSH paths (seeded ⇒ deterministic; rows-only gate
    // since MLlib's hash families aren't reproducible in SQL — instead
    // both rows carry a cross-IMPLEMENTATION gate: OperatorsSpec "MLlib
    // parity" asserts MinHashLSH recovers exactly the same confirmed
    // near-dup pairs as the native banded path vs an independent exact-
    // Jaccard ground truth, and BRP holds a recall floor vs the exact
    // oracle).
    // MinHashLSH OR-joins on 1-row bands, which explodes into hot buckets
    // on this vocab-dense corpus — run the integration demo on a
    // deterministic 1k-doc slice; the banded 2-row minhash_lsh_pairs
    // operator above is the tuned scale path.
    "mllib_minhash_neardups" -> ((s, dir) =>
      graft.operators.MlLsh.minHashNearDups(
        s.read.parquet(s"$dir/documents.parquet").filter(col("doc_id") < 1000),
        maxJaccardDistance = 0.6, numHashTables = 2)),

    // radius 1.5 ≈ 1.27x the worst exact rank-10 distance at this sf
    // (measured max d10 = 1.184; radius 10 degenerated to an all-pairs UDF
    // join). The inter-point distance distribution is dense just above the
    // NN band, so the pair join still touches ~1.3k candidates per probe —
    // the integration demo runs 25 probes; AnnLsh/HNSW/IVF are the tuned
    // scale paths.
    "mllib_brp_ann" -> ((s, dir) =>
      graft.operators.MlLsh.brpAnnJoin(emb(s, dir), probes(s, dir, 25), k = 10,
        maxDistance = 1.5, bucketLength = 1.0)),

    // label centroid stats: per-label mean norm (grouped vector agg)
    "label_centroid_norm" -> ((s, dir) =>
      emb(s, dir).groupBy("label")
        .agg(count(lit(1)).as("n"),
          rnd(avg(sqrt(dot_product(col("embedding"), col("embedding")))), 6)
            .as("avg_norm"))),

    // late-interaction multi-vector retrieval (MaxSim, ColBERT-style):
    // documents = bags of 8 vectors (embeddings grouped by vec_id DIV 8),
    // queries = the first 5 bags; score = Σ_i max_j dot(q_i, d_j). Two
    // map-side-combined aggregations + top-k window, kernels codegen'd —
    // the whole scorer is cross-engine oracle-checked.
    "maxsim_multivec" -> ((s, dir) => {
      val dv = emb(s, dir).select(
        expr("CAST(vec_id DIV 8 AS BIGINT)").as("doc_id"),
        col("embedding").as("vec"))
      val qv = emb(s, dir).filter(col("vec_id") < 40).select(
        expr("CAST(vec_id DIV 8 AS BIGINT)").as("query_id"),
        expr("CAST(vec_id % 8 AS INT)").as("vec_no"),
        col("embedding").as("query_vec"))
      graft.operators.MaxSim.maxSimJoin(dv, qv, k = 10, scoreDigits = 6)
    }),

    // the late-interaction SCALE path: per-vector hyperplane-LSH candidate
    // generation (same seeded tables + multiprobe as knn_lsh_cosine), then
    // the exact MaxSim scorer over candidate (query, doc) pairs only — the
    // ColBERT serving pattern. Whole pruned pipeline oracle-checked from
    // plane literals.
    "maxsim_multivec_lsh" -> ((s, dir) => {
      val dv = emb(s, dir).select(
        expr("CAST(vec_id DIV 8 AS BIGINT)").as("doc_id"),
        col("embedding").as("vec"))
      val qv = emb(s, dir).filter(col("vec_id") < 40).select(
        expr("CAST(vec_id DIV 8 AS BIGINT)").as("query_id"),
        expr("CAST(vec_id % 8 AS INT)").as("vec_no"),
        col("embedding").as("query_vec"))
      graft.operators.MaxSim.maxSimJoinPruned(dv, qv, k = 10,
        numPlanes = 6, d = 64, numTables = 4, scoreDigits = 6)
    }),

    // IVF-cell-gated MaxSim (the README roadmap item): coarse cells bound
    // which documents a query's late-interaction scorer touches —
    // region pruning (nprobe/C of the corpus) instead of LSH collision
    // pruning. Reuses the battery's IVF quantizer, so the composed
    // pipeline is oracle-checked from the same centroid literals.
    "maxsim_multivec_ivf" -> ((s, dir) => {
      val model = ivfModel(s, dir)
      val dv = emb(s, dir).select(
        expr("CAST(vec_id DIV 8 AS BIGINT)").as("doc_id"),
        col("embedding").as("vec"))
      val qv = emb(s, dir).filter(col("vec_id") < 40).select(
        expr("CAST(vec_id DIV 8 AS BIGINT)").as("query_id"),
        expr("CAST(vec_id % 8 AS INT)").as("vec_no"),
        col("embedding").as("query_vec"))
      graft.operators.MaxSim.maxSimJoinIvf(dv, qv, k = 10,
        centroids = model.centroids, nprobe = 4, scoreDigits = 6)
    })
  ) ++ anns.flatMap(a => Seq(
    a.knnKey -> a.serve,
    a.recallKey -> ((s: SparkSession, dir: String) =>
      Recall.microAvgRecall(a.serve(s, dir),
        exactKnn10(s, dir, a.metric, a.digits)))))

  /** Shared DuckDB CTE prefix reproducing the LSH signature pipeline of
    * [[AnnLsh.lshKnnJoin]] / [[AnnLsh.lshNearDupPairs]] (numPlanes=6, d=64,
    * seed=42, numTables=4, multiProbe=1) from plane literals. */
  private def lshSigsCte: String = {
    val sigs = AnnLsh.duckdbAllSigsSql("embeddings", "vec_id", "embedding",
      numPlanes = 6, d = 64, seed = 42L, numTables = 4)
    s"""WITH sigs AS (
       | $sigs
       |)""".stripMargin
  }

  private def lshKnnCte: String =
    s"""$lshSigsCte,
       | qs AS (SELECT vec_id AS query_id, embedding AS qv, sig AS qsig
       |        FROM sigs WHERE vec_id < 100),
       | lsh_probes AS (
       |  SELECT query_id, qv, qsig AS sig FROM qs
       |  UNION ALL
       |  SELECT query_id, qv, xor(qsig, CAST(1 AS BIGINT) << i) AS sig
       |  FROM qs, range(0, 6) t(i)),
       | cands AS (
       |  SELECT DISTINCT p.query_id, s.vec_id AS neighbor_id,
       |   floor((list_cosine_similarity(CAST(s.embedding AS DOUBLE[]), CAST(p.qv AS DOUBLE[])))*1e6 + 0.5)/1e6 AS score
       |  FROM lsh_probes p JOIN sigs s ON p.sig = s.sig),
       | lsh_topk AS (
       |  SELECT query_id, neighbor_id, score, rank FROM (
       |   SELECT *, row_number() OVER (PARTITION BY query_id
       |     ORDER BY score DESC, neighbor_id) AS rank FROM cands)
       |  WHERE rank <= 10)""".stripMargin

  /** Shared DuckDB CTE reproducing [[graft.operators.Sq]]'s pipeline
    * end-to-end (d=64, rerank=100, k=10): per-dim min/max → closed-form
    * double-arithmetic codes → decode → ADC distances rounded to 1e-9 →
    * (dist, cand_id) top-rerank → euclidean rerank rounded to 1e-6 —
    * every step the same total order the Spark side ranks by. */
  private def sqTopCte: String =
    """WITH dims AS (SELECT CAST(unnest(range(1, 65)) AS INT) AS i),
      | comps AS (SELECT e.vec_id, d.i, CAST(e.embedding[d.i] AS DOUBLE) AS x
      |           FROM embeddings e CROSS JOIN dims d),
      | stats AS (SELECT i, min(x) AS mn, (max(x) - min(x))/255.0 AS sc
      |           FROM comps GROUP BY i),
      | dec AS (SELECT c.vec_id, c.i,
      |    s.mn + (CASE WHEN s.sc = 0 THEN 0
      |            ELSE least(255, greatest(0, floor((c.x - s.mn)/s.sc + 0.5)))
      |            END) * s.sc AS dv
      |   FROM comps c JOIN stats s USING (i)),
      | q AS (SELECT vec_id AS query_id, embedding AS qv
      |       FROM embeddings WHERE vec_id < 100),
      | adc AS (SELECT q.query_id, d.vec_id AS cand_id,
      |    floor((sum((CAST(q.qv[d.i] AS DOUBLE) - d.dv)
      |               * (CAST(q.qv[d.i] AS DOUBLE) - d.dv)))*1e9 + 0.5)/1e9
      |      AS adc_dist
      |   FROM dec d CROSS JOIN q GROUP BY 1, 2),
      | cand AS (SELECT query_id, cand_id FROM (
      |    SELECT query_id, cand_id, row_number() OVER (PARTITION BY query_id
      |      ORDER BY adc_dist, cand_id) AS cr FROM adc) WHERE cr <= 100),
      | rer AS (SELECT c.query_id, c.cand_id AS neighbor_id,
      |    floor((1.0/(1.0 + list_distance(CAST(e.embedding AS DOUBLE[]),
      |      CAST(q.qv AS DOUBLE[]))))*1e6 + 0.5)/1e6 AS score
      |   FROM cand c JOIN embeddings e ON e.vec_id = c.cand_id
      |    JOIN q ON q.query_id = c.query_id),
      | sq_topk AS (SELECT query_id, neighbor_id, score, rank FROM (
      |   SELECT *, row_number() OVER (PARTITION BY query_id
      |     ORDER BY score DESC, neighbor_id) AS rank FROM rer)
      |  WHERE rank <= 10)""".stripMargin

  /** The IVF quantizer's other trained-literal entries (its ANN pairs,
    * IVF and IVF-BQ, are declared in [[anns]]). */
  private def ivfOracle(m: graft.operators.IvfFlat.Model): Map[String, String] = {
    val cents = m.centroids
    val hnCte = graft.operators.IvfFlat.duckdbTopkCte(cents, nprobe = 4,
      k = 10, probeFilter = "vec_id < 50")
    Map(
      // IVF-gated hard-negative mining from the SAME centroid
      // literals: probed cells → candidates (self excluded) → labels
      // joined → negative top-5 / hardest-positive / semi-hard flag.
      // The oracle is the single-round form; the Spark side only
      // escalates when a probed set under-fills, which the battery
      // parameters never trigger (a mismatch here would flag it).
      "hard_negatives_ivf" ->
        s"""$hnCte,
           | hn_cand AS (
           |  SELECT qc.query_id, ql.label AS qlabel, a.vec_id, al.label,
           |   floor((CASE WHEN isnan(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(qc.qv AS DOUBLE[]))) THEN -1.0
           |          ELSE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(qc.qv AS DOUBLE[])) END)*1e6 + 0.5)/1e6 AS score
           |  FROM ivf_qcells qc
           |   JOIN ivf_assigned a ON a.cell = qc.cell AND a.vec_id <> qc.query_id
           |   JOIN embeddings ql ON ql.vec_id = qc.query_id
           |   JOIN embeddings al ON al.vec_id = a.vec_id),
           | hn_pos AS (SELECT query_id, max(score) AS pos_score FROM hn_cand
           |            WHERE label = qlabel GROUP BY 1),
           | hn_top AS (SELECT query_id, vec_id, label, score,
           |   row_number() OVER (PARTITION BY query_id
           |     ORDER BY score DESC, vec_id) AS rnk
           |  FROM hn_cand WHERE label <> qlabel)
           |SELECT t.query_id, t.rnk, t.vec_id AS neighbor_id, t.label,
           | t.score, p.pos_score, t.score < p.pos_score AS semi_hard
           |FROM hn_top t LEFT JOIN hn_pos p USING (query_id)
           |WHERE t.rnk <= 5""".stripMargin,
      "semdedup_embeddings" ->
        graft.operators.SemDedup.duckdbSql(cents, threshold = 0.8),
      "prune_prototypes" ->
        graft.operators.Prune.duckdbSql(cents, keepFrac = 0.5),
      "cluster_eval" ->
        graft.operators.ClusterEval.duckdbSql(cents),
      // IVF-cell-gated MaxSim from the SAME centroid literals: doc-vector
      // assignment ties to the LARGER cell (greatest-struct), query-vector
      // routing ties to the SMALLER (array_sort) — mirrored exactly; the
      // candidate join and the MaxSim tail reuse the proven recipes.
      "maxsim_multivec_ivf" -> {
        val rows = cents.map { case (c, v) =>
          s"($c, CAST([${v.map(_.toDouble.toString).mkString(", ")}] AS DOUBLE[]))"
        }.mkString(",\n   ")
        def guarded(a: String) =
          s"""CASE WHEN isnan(list_cosine_similarity($a, c.cvec)) THEN -1.0
             |        ELSE list_cosine_similarity($a, c.cvec) END""".stripMargin
        s"""WITH mi_cents(cell, cvec) AS (VALUES
           |   $rows),
           | mi_d AS (SELECT vec_id, vec_id // 8 AS doc_id, embedding FROM embeddings),
           | mi_dsim AS (
           |  SELECT d.vec_id, d.doc_id, c.cell,
           |   ${guarded("CAST(d.embedding AS DOUBLE[])")} AS s
           |  FROM mi_d d CROSS JOIN mi_cents c),
           | mi_dcell AS (
           |  SELECT DISTINCT doc_id, cell FROM (
           |   SELECT vec_id, doc_id, cell,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rn
           |   FROM mi_dsim) WHERE rn = 1),
           | mi_q AS (SELECT vec_id, vec_id // 8 AS query_id, CAST(vec_id % 8 AS INT) AS vec_no,
           |          embedding AS qvec FROM embeddings WHERE vec_id < 40),
           | mi_qsim AS (
           |  SELECT q.vec_id, q.query_id, c.cell,
           |   ${guarded("CAST(q.qvec AS DOUBLE[])")} AS s
           |  FROM mi_q q CROSS JOIN mi_cents c),
           | mi_qcell AS (
           |  SELECT DISTINCT query_id, cell FROM (
           |   SELECT vec_id, query_id, cell,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
           |   FROM mi_qsim) WHERE rn <= 4),
           | mi_cand AS (
           |  SELECT DISTINCT q.query_id, d.doc_id
           |  FROM mi_qcell q JOIN mi_dcell d USING (cell)),
           | mi_dv AS (SELECT vec_id // 8 AS doc_id, embedding AS dvec FROM embeddings),
           | mi_pairs AS (
           |  SELECT c.query_id, c.doc_id, q.vec_no,
           |   max(list_inner_product(CAST(d.dvec AS DOUBLE[]), CAST(q.qvec AS DOUBLE[]))) AS best
           |  FROM mi_cand c JOIN mi_dv d ON d.doc_id = c.doc_id
           |   JOIN mi_q q ON q.query_id = c.query_id
           |  GROUP BY 1, 2, 3),
           | mi_scored AS (
           |  SELECT query_id, doc_id, floor((sum(best))*1e6 + 0.5)/1e6 AS score
           |  FROM mi_pairs GROUP BY 1, 2)
           |SELECT query_id, doc_id, score, rank FROM (
           | SELECT *, row_number() OVER (PARTITION BY query_id
           |   ORDER BY score DESC, doc_id) AS rank FROM mi_scored)
           |WHERE rank <= 10""".stripMargin
      })
  }

  /** The static entries, the closed-form ANN families' twins, and the
    * SQL of each trained family `wanted` picks a key of, built from the
    * same memoized model its queries serve with (a fit only when no query
    * of the family ran in this session for `dir`). */
  def oracle(s: SparkSession, dir: String,
      wanted: String => Boolean): Map[String, String] = {
    def family(fit: String, extraKeys: String*)(extra: => Map[String, String]) = {
      val fam = anns.filter(_.fit.contains(fit))
      SparkEntry.fittedFamily(fit, wanted, fam.flatMap(_.keys) ++ extraKeys: _*)(
        fam.flatMap(annSql(_, s, dir)).toMap ++ extra)
    }
    staticOracle ++
      anns.filter(a => a.oracle.nonEmpty && a.fit.isEmpty)
        .flatMap(annSql(_, s, dir)) ++
      family("ivf", "hard_negatives_ivf", "semdedup_embeddings",
        "prune_prototypes", "cluster_eval", "maxsim_multivec_ivf")(
        ivfOracle(ivfModel(s, dir))) ++
      anns.flatMap(_.fit).distinct.filter(_ != "ivf")
        .flatMap(family(_)(Map.empty))
  }

  /** The model memo keys held for `dir` in `s`'s context. */
  private[graft] def memoized(s: SparkSession, dir: String): Seq[String] =
    ModelMemo.keys(s).filter(_.endsWith(s"/$dir"))

  /** Shared DuckDB CTE prefix for the real-media oracles: re-derives the
    * quantized pixels/samples straight from the embeddings with the SAME
    * explicit-parenthesized double arithmetic as Multimodal.quantize255 /
    * quantizePcm16 — the BMP/WAV codec round-trip is lossless, so the
    * features must match bit-for-bit. Ends with CTE `mm_px` (pixels) and
    * `mm_sm` (PCM samples), both (vec_id, idx, value). */
  private val mediaQuantCte: String =
    """WITH mm_e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      | mm_mm AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx
      |  FROM mm_e),
      | mm_j AS (SELECT unnest(range(1, 65)) AS j),
      | mm_px AS (SELECT vec_id, CAST(j - 1 AS INT) AS idx,
      |   CASE WHEN mx = mn THEN 0
      |     ELSE CAST(floor(((v[j] - mn) / (mx - mn)) * 255.0 + 0.5) AS INT)
      |   END AS p
      |  FROM mm_mm CROSS JOIN mm_j),
      | mm_sm AS (SELECT vec_id, CAST(j - 1 AS INT) AS idx,
      |   CASE WHEN mx = mn THEN 0
      |     ELSE CAST(floor(((v[j] - mn) / (mx - mn)) * 65535.0 + 0.5) AS INT)
      |       - 32768
      |   END AS s
      |  FROM mm_mm CROSS JOIN mm_j)""".stripMargin

  /** The 4x4 pooled-luma feature CTE on top of [[mediaQuantCte]] (block =
    * adaptive-pool bin of an 8x8 image; gray pixel ⇒ integer luma = p).
    * Ends with `mm_feat(media_id, block, luma)`. */
  private val mediaImageFeatCte: String =
    """ mm_blk AS (SELECT vec_id,
      |   CAST(((idx // 8) * 4 // 8) * 4 + ((idx % 8) * 4 // 8) AS INT)
      |     AS block, p
      |  FROM mm_px),
      | mm_feat AS (SELECT vec_id AS media_id, block,
      |   floor(CAST(sum(p) AS DOUBLE) / (count(*) * 255.0) * 1e6 + 0.5)/1e6
      |     AS luma
      |  FROM mm_blk GROUP BY 1, 2)""".stripMargin

  /** aHash band CTE on top of [[mediaQuantCte]]: for the 8x8 inputs at
    * grid 8 every pooled cell is one pixel (psum = p, pcnt = 1, total
    * count 64), so the operator's cross-multiplied mean comparison is
    * `p * 64 > sum(p)`. Ends with `mm_band(vec_id, band, val)`. */
  private val mediaAHashCte: String =
    """ mm_ts AS (SELECT vec_id, CAST(sum(p) AS BIGINT) AS ts
      |  FROM mm_px GROUP BY 1),
      | mm_bit AS (SELECT x.vec_id, CAST(x.idx // 16 AS INT) AS band,
      |   x.idx % 16 AS j,
      |   CASE WHEN CAST(x.p AS BIGINT) * 64 > t.ts THEN 1 ELSE 0 END AS bit
      |  FROM mm_px x JOIN mm_ts t ON t.vec_id = x.vec_id),
      | mm_band AS (SELECT vec_id, band,
      |   CAST(sum(CASE WHEN bit = 1 THEN (1::BIGINT << j) ELSE 0 END)
      |     AS BIGINT) AS val
      |  FROM mm_bit GROUP BY 1, 2)""".stripMargin

  /** 33-window RMS + sign-delta fingerprint CTEs on top of
    * [[mediaQuantCte]] (the audioFingerprint twin: same fixed-point rms
    * doubles, so the > comparisons are bit-identical). Twins (vec_id +
    * 1000000 for vec_id < 20) carry byte-identical samples, hence
    * identical rows. Ends with `mm_fp2(vec_id, fp)`. */
  private val mediaFingerprintCte: String =
    """ mm_w33 AS (SELECT vec_id, CAST(idx * 33 // 64 AS INT) AS w,
      |   CAST(s AS BIGINT) * s AS sq
      |  FROM mm_sm),
      | mm_r33 AS (SELECT vec_id, w,
      |   floor(sqrt(CAST(sum(sq) AS DOUBLE) / count(*)) * 1e6 + 0.5)/1e6
      |     AS rms
      |  FROM mm_w33 GROUP BY 1, 2),
      | mm_fp AS (SELECT a.vec_id,
      |   CAST(sum(CASE WHEN b.rms > a.rms THEN (1::BIGINT << a.w)
      |            ELSE 0 END) AS BIGINT) AS fp
      |  FROM mm_r33 a JOIN mm_r33 b
      |    ON b.vec_id = a.vec_id AND b.w = a.w + 1
      |  GROUP BY 1),
      | mm_fp2 AS (SELECT vec_id, fp FROM mm_fp
      |  UNION ALL
      |  SELECT vec_id + 1000000, fp FROM mm_fp WHERE vec_id < 20)""".stripMargin

  /** Banded-candidate + Hamming-confirm CTEs on top of
    * [[mediaAHashCte]], over the corpus WITH PNG twins (vec_id +
    * 1000000 for vec_id < 20 — identical pixels, so identical band
    * rows). Ends with `mm_pairs(id1, id2, hamming)`, hamming ≤ 10. */
  /** Integer-DCT pHash CTE on top of [[mediaQuantCte]]: the SAME
    * fixed-point basis table as `ImageDup.dctTable` (interpolated, so
    * engine and oracle share one source of truth), coefficients by
    * exact int64 cross-join sums, median = the 32nd of the 63 sorted AC
    * values (an element, not an average — rank under duplicates is
    * value-stable). Ends with `mm_dband(vec_id, band, val)`. */
  private val mediaDctBandCte: String = {
    val table = graft.operators.ImageDup.dctTable.mkString("[", ", ", "]")
    s""" mm_ct AS (SELECT unnest(range(0, 64)) AS i,
       |   unnest($table::BIGINT[]) AS c),
       | mm_uv AS (SELECT unnest(range(0, 64)) AS uv),
       | mm_co AS (SELECT px.vec_id, u.uv,
       |   CAST(sum(CAST(px.p AS BIGINT) * cu.c * cv.c) AS BIGINT) AS coeff
       |  FROM mm_px px CROSS JOIN mm_uv u
       |  JOIN mm_ct cu ON cu.i = (u.uv // 8) * 8 + (px.idx // 8)
       |  JOIN mm_ct cv ON cv.i = (u.uv % 8) * 8 + (px.idx % 8)
       |  GROUP BY 1, 2),
       | mm_med AS (SELECT vec_id, coeff AS med FROM (
       |   SELECT vec_id, coeff,
       |     row_number() OVER (PARTITION BY vec_id ORDER BY coeff) AS rn
       |   FROM mm_co WHERE uv > 0) WHERE rn = 32),
       | mm_dbit AS (SELECT co.vec_id, CAST((uv - 1) // 16 AS INT) AS band,
       |   (uv - 1) % 16 AS j,
       |   CASE WHEN co.coeff > m.med THEN 1 ELSE 0 END AS bit
       |  FROM mm_co co JOIN mm_med m ON m.vec_id = co.vec_id
       |  WHERE uv > 0),
       | mm_dband AS (SELECT vec_id, band,
       |   CAST(sum(CAST(bit AS BIGINT) * (CAST(1 AS BIGINT) << j))
       |     AS BIGINT) AS val
       |  FROM mm_dbit GROUP BY 1, 2)""".stripMargin
  }

  /** Twin corpus + banded candidates + Hamming confirm over the DCT
    * bands — [[mediaPhashPairsCte]]'s shape on `mm_dband`. */
  private val mediaDctPairsCte: String =
    """ mm_dband2 AS (SELECT vec_id, band, val FROM mm_dband
      |  UNION ALL
      |  SELECT vec_id + 1000000, band, val FROM mm_dband
      |  WHERE vec_id < 20),
      | mm_dcand AS (SELECT DISTINCT a.vec_id AS id1, c.vec_id AS id2
      |  FROM mm_dband2 a JOIN mm_dband2 c
      |    ON a.band = c.band AND a.val = c.val AND a.vec_id < c.vec_id),
      | mm_dwide AS (SELECT vec_id, list(val ORDER BY band) AS vs
      |  FROM mm_dband2 GROUP BY 1),
      | mm_dpairs AS (SELECT id1, id2, hamming FROM (
      |  SELECT cd.id1, cd.id2,
      |    CAST(bit_count(xor(w1.vs[1], w2.vs[1]))
      |       + bit_count(xor(w1.vs[2], w2.vs[2]))
      |       + bit_count(xor(w1.vs[3], w2.vs[3]))
      |       + bit_count(xor(w1.vs[4], w2.vs[4])) AS BIGINT) AS hamming
      |  FROM mm_dcand cd JOIN mm_dwide w1 ON w1.vec_id = cd.id1
      |    JOIN mm_dwide w2 ON w2.vec_id = cd.id2)
      |  WHERE hamming <= 10)""".stripMargin

  private val mediaPhashPairsCte: String =
    """ mm_band2 AS (SELECT vec_id, band, val FROM mm_band
      |  UNION ALL
      |  SELECT vec_id + 1000000, band, val FROM mm_band
      |  WHERE vec_id < 20),
      | mm_cand AS (SELECT DISTINCT a.vec_id AS id1, c.vec_id AS id2
      |  FROM mm_band2 a JOIN mm_band2 c
      |    ON a.band = c.band AND a.val = c.val AND a.vec_id < c.vec_id),
      | mm_wide AS (SELECT vec_id, list(val ORDER BY band) AS vs
      |  FROM mm_band2 GROUP BY 1),
      | mm_pairs AS (SELECT id1, id2, hamming FROM (
      |  SELECT cd.id1, cd.id2,
      |    CAST(bit_count(xor(w1.vs[1], w2.vs[1]))
      |       + bit_count(xor(w1.vs[2], w2.vs[2]))
      |       + bit_count(xor(w1.vs[3], w2.vs[3]))
      |       + bit_count(xor(w1.vs[4], w2.vs[4])) AS BIGINT) AS hamming
      |  FROM mm_cand cd JOIN mm_wide w1 ON w1.vec_id = cd.id1
      |    JOIN mm_wide w2 ON w2.vec_id = cd.id2)
      |  WHERE hamming <= 10)""".stripMargin

  /** Transitive closure over the perceptual pairs → min-id components
    * (shared by the keep decision and the leakage-proof split). */
  private val mediaClustersCte: String =
    """ mm_nodes AS (SELECT DISTINCT vec_id FROM mm_band2),
      | mm_adj AS (SELECT id1 AS a, id2 AS b FROM mm_pairs
      |  UNION SELECT id2, id1 FROM mm_pairs),
      | mm_reach(a, b) AS (SELECT vec_id, vec_id FROM mm_nodes
      |  UNION
      |  SELECT r.a, j.b FROM mm_reach r JOIN mm_adj j ON r.b = j.a),
      | mm_cl AS (SELECT a AS media_id, min(b) AS cluster_id
      |  FROM mm_reach GROUP BY 1)""".stripMargin

  /** The RRF twins' shared tail. `lexCte` is a WITH prefix ending in
    * the lexical top-20 `lex(query_id, doc_id, lrank)`; this adds the
    * rounded exact-cosine ranking of the first 10 vectors (`vranked`, all
    * ranks; `vec`, its top 20), their two-term reciprocal sum (written
    * order lexical-then-vector, CAST(1 AS DOUBLE) so the division is IEEE
    * double, rounded before ranking) as `fused`, and its top 10 by
    * (rrf_score DESC, doc_id) as `fused_top`. */
  private def rrfFusedCte(lexCte: String): String =
    lexCte + """,
      | vscored AS (
      |  SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
      |   floor((list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))*1e6 + 0.5)/1e6 AS score
      |  FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id < 10) q),
      | vranked AS (
      |  SELECT query_id, doc_id, vrank FROM (
      |   SELECT *, row_number() OVER (PARTITION BY query_id
      |     ORDER BY score DESC, doc_id) AS vrank FROM vscored)),
      | vec AS (SELECT * FROM vranked WHERE vrank <= 20),
      | fused AS (
      |  SELECT coalesce(l.query_id, v.query_id) AS query_id,
      |   coalesce(l.doc_id, v.doc_id) AS doc_id, l.lrank, v.vrank,
      |   floor((coalesce(CAST(1 AS DOUBLE)/(60 + l.lrank), 0.0)
      |        + coalesce(CAST(1 AS DOUBLE)/(60 + v.vrank), 0.0))*1e6 + 0.5)/1e6
      |     AS rrf_score
      |  FROM lex l FULL OUTER JOIN vec v
      |   ON l.query_id = v.query_id AND l.doc_id = v.doc_id),
      | fused_top AS (
      |  SELECT query_id, doc_id, lrank, vrank, rrf_score, rank FROM (
      |   SELECT *, row_number() OVER (PARTITION BY query_id
      |     ORDER BY rrf_score DESC, doc_id) AS rank FROM fused)
      |  WHERE rank <= 10)""".stripMargin

  /** [[rrfFusedCte]] over the BM25 top-20 of the first 10 docs — the
    * twin of [[rrfBm25Fused]]. */
  private def rrfBm25FusedCte: String =
    rrfFusedCte(TextQueries.bm25ScoredCte(10) + """,
      | lex AS (SELECT qid AS query_id, doc_id, lrank FROM (
      |   SELECT *, row_number() OVER (PARTITION BY qid
      |     ORDER BY bm25 DESC, doc_id) AS lrank FROM sc)
      |  WHERE lrank <= 20)""".stripMargin)

  private val staticOracle: Map[String, String] = Map(
    // audio fingerprint: sign-of-energy-delta bits from the same
    // fixed-point rms values the feature oracle proved bit-exact
    "media_audio_fingerprint" ->
      (s"$mediaQuantCte,\n$mediaFingerprintCte\n" +
        """SELECT vec_id AS media_id, fp, CAST(64 AS BIGINT) AS n_samples
          |FROM mm_fp2""".stripMargin),
    // exact-fingerprint dedup pairs: the spliced-metadata twins must
    // pair with their originals
    "media_audio_dup_pairs" ->
      (s"$mediaQuantCte,\n$mediaFingerprintCte\n" +
        """SELECT a.vec_id AS id1, c.vec_id AS id2, a.fp
          |FROM mm_fp2 a JOIN mm_fp2 c
          |  ON a.fp = c.fp AND a.vec_id < c.vec_id""".stripMargin),
    // real video pipeline: per-frame quantization of embedding slices →
    // (lossless animated-GIF round-trip) → per-frame pooled luma; at a
    // 4x4 frame with grid 4 each pooled cell is one pixel (cnt = 1)
    "media_video_frames" ->
      """WITH mv_e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        | mv_f AS (SELECT unnest(range(0, 4)) AS f),
        | mv_sl AS (SELECT vec_id, f, v[(f*16 + 1):(f*16 + 16)] AS sv
        |  FROM mv_e CROSS JOIN mv_f),
        | mv_mm AS (SELECT vec_id, f, sv, list_min(sv) AS mn,
        |   list_max(sv) AS mx FROM mv_sl),
        | mv_j AS (SELECT unnest(range(1, 17)) AS j),
        | mv_px AS (SELECT vec_id, f, CAST(j - 1 AS INT) AS idx,
        |   CASE WHEN mx = mn THEN 0
        |     ELSE CAST(floor(((sv[j] - mn) / (mx - mn)) * 255.0 + 0.5) AS INT)
        |   END AS p
        |  FROM mv_mm CROSS JOIN mv_j)
        |SELECT vec_id AS media_id, CAST(f AS INT) AS frame_no,
        | CAST(4 AS INT) AS n_frames, idx AS block,
        | floor(CAST(p AS DOUBLE) / (1 * 255.0) * 1e6 + 0.5)/1e6 AS luma
        |FROM mv_px""".stripMargin,
    // perceptual hash: integer mean-threshold bits from the same pixels
    "media_ahash" ->
      (s"$mediaQuantCte,\n$mediaAHashCte\n" +
        "SELECT vec_id AS media_id, band, val FROM mm_band"),
    // integer-DCT pHash bands re-derived from raw pixels with the same
    // fixed-point basis table the engine folds into codegen
    "media_dcthash" ->
      (s"$mediaQuantCte,\n$mediaDctBandCte\n" +
        "SELECT vec_id AS media_id, band, val FROM mm_dband"),
    "media_dcthash_pairs" ->
      (s"$mediaQuantCte,\n$mediaDctBandCte,\n$mediaDctPairsCte\n" +
        "SELECT id1, id2, hamming FROM mm_dpairs"),
    // banded candidates + exact Hamming confirm, mirroring nearDupPairs;
    // the PNG twins decode to the SAME pixels (both codecs lossless), so
    // their band rows are the originals' rows under the offset id
    "media_phash_pairs" ->
      (s"$mediaQuantCte,\n$mediaAHashCte,\n$mediaPhashPairsCte\n" +
        "SELECT id1, id2, hamming FROM mm_pairs"),
    // 1-bit multiprobe at Hamming <= 16: candidate iff SOME band within
    // one flipped bit (small-sf oracle states it as the direct band
    // predicate; the engine reaches the same set via the expanded-probe
    // equi-join)
    "media_phash_pairs_mp" ->
      (s"$mediaQuantCte,\n$mediaAHashCte,\n$mediaPhashPairsCte,\n" +
        """ mm_cand_mp AS (SELECT DISTINCT a.vec_id AS id1, c.vec_id AS id2
          |  FROM mm_band2 a JOIN mm_band2 c
          |    ON a.band = c.band AND a.vec_id < c.vec_id
          |       AND bit_count(xor(a.val, c.val)) <= 1)
          |SELECT id1, id2, hamming FROM (
          |  SELECT cd.id1, cd.id2,
          |    CAST(bit_count(xor(w1.vs[1], w2.vs[1]))
          |       + bit_count(xor(w1.vs[2], w2.vs[2]))
          |       + bit_count(xor(w1.vs[3], w2.vs[3]))
          |       + bit_count(xor(w1.vs[4], w2.vs[4])) AS BIGINT) AS hamming
          |  FROM mm_cand_mp cd JOIN mm_wide w1 ON w1.vec_id = cd.id1
          |    JOIN mm_wide w2 ON w2.vec_id = cd.id2)
          |WHERE hamming <= 16""".stripMargin),
    // pairs → transitive closure (the dedup_clusters reach pattern) →
    // keep the min-id canonical per component
    "media_dedup_keep" ->
      ("WITH RECURSIVE " + mediaQuantCte.stripPrefix("WITH ") +
        s",\n$mediaAHashCte,\n$mediaPhashPairsCte,\n$mediaClustersCte\n" +
        """SELECT media_id, cluster_id, (media_id = cluster_id) AS kept
          |FROM mm_cl""".stripMargin),
    // the image clusters routed through the text stack's md5
    // cluster-hash split arithmetic — closure + split + leak flag,
    // re-derived end to end
    "media_dedup_split" ->
      ("WITH RECURSIVE " + mediaQuantCte.stripPrefix("WITH ") +
        s",\n$mediaAHashCte,\n$mediaPhashPairsCte,\n$mediaClustersCte,\n" +
        """ msp AS (SELECT media_id, cluster_id,
          |   (media_id = cluster_id) AS kept,
          |   ('0x' || substr(md5('split:' || cluster_id), 1, 15))::BIGINT
          |     % 10 AS cb,
          |   ('0x' || substr(md5('split:' || media_id), 1, 15))::BIGINT
          |     % 10 AS nb
          |  FROM mm_cl),
          | mnm AS (SELECT media_id, cluster_id, kept,
          |   CASE WHEN cb < 8 THEN 'train' WHEN cb = 8 THEN 'val'
          |        ELSE 'test' END AS split,
          |   CASE WHEN nb < 8 THEN 'train' WHEN nb = 8 THEN 'val'
          |        ELSE 'test' END AS naive_split
          |  FROM msp),
          | mlk AS (SELECT cluster_id,
          |   (count(DISTINCT naive_split) > 1) AS cluster_leaky
          |  FROM mnm GROUP BY 1)
          |SELECT media_id, cluster_id, kept, split, naive_split,
          |  cluster_leaky
          |FROM mnm JOIN mlk USING (cluster_id)""".stripMargin),
    // real image pipeline: quantize → (lossless BMP round-trip) → integer
    // luma → adaptive 2x2 pooling → 1e-6 fixed point, all re-derived here
    "media_image_features" ->
      (s"$mediaQuantCte,\n$mediaImageFeatCte\n" +
        """SELECT media_id, CAST(8 AS INT) AS img_w, CAST(8 AS INT) AS img_h,
          | block, luma
          |FROM mm_feat""".stripMargin),
    // real audio pipeline: PCM16 quantization → (lossless WAV round-trip)
    // → per-window RMS (integer sum of squares, double sqrt) + whole-
    // signal zero-crossing count
    "media_audio_features" ->
      (s"$mediaQuantCte,\n" +
        """ mm_zf AS (SELECT vec_id, idx, s,
          |   CASE WHEN lag(s) OVER w IS NULL THEN 0
          |        WHEN (lag(s) OVER w < 0) != (s < 0) THEN 1
          |        ELSE 0 END AS zf
          |  FROM mm_sm WINDOW w AS (PARTITION BY vec_id ORDER BY idx)),
          | mm_z AS (SELECT vec_id, CAST(sum(zf) AS BIGINT) AS zcr
          |  FROM mm_zf GROUP BY 1),
          | mm_w AS (SELECT vec_id, CAST(idx * 8 // 64 AS INT) AS "window",
          |   CAST(s AS BIGINT) * s AS sq
          |  FROM mm_sm),
          | mm_r AS (SELECT vec_id, "window",
          |   floor(sqrt(CAST(sum(sq) AS DOUBLE) / count(*)) * 1e6 + 0.5)/1e6
          |     AS rms
          |  FROM mm_w GROUP BY 1, 2)
          |SELECT r.vec_id AS media_id, CAST(8000 AS INT) AS sample_rate,
          | CAST(64 AS BIGINT) AS n_samples, z.zcr, r."window", r.rms
          |FROM mm_r r JOIN mm_z z ON z.vec_id = r.vec_id""".stripMargin),
    // the media→embedding→retrieval composition: pooled luma features
    // float-cast (the engine scores array<float> widened to double — the
    // knn_docs_hashbow parity pattern), exact cosine top-5
    "multimodal_knn" ->
      (s"$mediaQuantCte,\n$mediaImageFeatCte,\n" +
        """ mm_femb AS (SELECT media_id AS vec_id,
          |   CAST(list(luma ORDER BY block) AS REAL[]) AS fe
          |  FROM mm_feat GROUP BY 1),
          | mm_q AS (SELECT vec_id AS query_id, fe AS qv FROM mm_femb
          |          WHERE vec_id < 20),
          | mm_scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
          |    floor((list_cosine_similarity(CAST(e.fe AS DOUBLE[]),
          |      CAST(q.qv AS DOUBLE[])))*1e6 + 0.5)/1e6 AS score
          |   FROM mm_femb e, mm_q q)
          |SELECT query_id, neighbor_id, score, rank FROM (
          |  SELECT *, row_number() OVER (PARTITION BY query_id
          |    ORDER BY score DESC, neighbor_id) AS rank FROM mm_scored)
          |WHERE rank <= 5""".stripMargin),
    // RRF twin: same lexical inverted-index overlap ranking, same rounded
    // exact-cosine ranking, same fusion ([[rrfFusedCte]]).
    "rrf_fusion" ->
      (rrfFusedCte(
        """WITH toks AS (
          |  SELECT doc_id,
          |   unnest(list_distinct(string_split_regex(trim(text),'\s+'))) AS term
          |  FROM documents),
          | ovl AS (
          |  SELECT q.doc_id AS query_id, c.doc_id AS doc_id, count(*) AS overlap
          |  FROM toks q JOIN toks c USING (term) WHERE q.doc_id < 10
          |  GROUP BY 1, 2),
          | lex AS (
          |  SELECT query_id, doc_id, lrank FROM (
          |   SELECT *, row_number() OVER (PARTITION BY query_id
          |     ORDER BY overlap DESC, doc_id) AS lrank FROM ovl)
          |  WHERE lrank <= 20)""".stripMargin) +
        "\nSELECT query_id, doc_id, lrank, vrank, rrf_score, rank FROM fused_top"),
    // BM25-leg RRF twin: the bm25_top_docs CTE pipeline (nq=10, topk=20)
    // as the lexical list, the same vector list and fusion as rrf_fusion.
    "rrf_fusion_bm25" ->
      (rrfBm25FusedCte +
        "\nSELECT query_id, doc_id, lrank, vrank, rrf_score, rank FROM fused_top"),
    // rank-metrics twin: the rrf_fusion_bm25 fused top-10 as the system,
    // exact-cosine top-10 (vrank <= 10 of the same ranking) as binary
    // truth; RR = max(rel/rank) (order-free), DCG via ln/ln(2) parity,
    // IDCG as the shared double literal, round-before-compare at 6 dp.
    "rank_quality" ->
      s"""$rrfBm25FusedCte,
        | truth AS (SELECT query_id, doc_id FROM vranked WHERE vrank <= 10),
        | lab AS (
        |  SELECT s.query_id, s.rank,
        |   CASE WHEN t.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel
        |  FROM fused_top s LEFT JOIN truth t
        |   ON s.query_id = t.query_id AND s.doc_id = t.doc_id)
        |SELECT query_id,
        |  floor((max(rel*CAST(1 AS DOUBLE)/rank))*1e6 + 0.5)/1e6 AS rr,
        |  floor((sum(rel*CAST(1 AS DOUBLE)/(ln(rank + 1.0)/ln(2)))
        |    / ${graft.operators.RankEval.idcg(10)})*1e6 + 0.5)/1e6 AS ndcg
        |FROM lab GROUP BY 1""".stripMargin,
    "knn_filtered_guarantee" ->
      exactTopkSql("cosine", probesSql, k = 20, where = "e.vec_id < 15"),
    "near_dup_embeddings_lsh" ->
      s"""$lshSigsCte,
         | pair_probes AS (
         |  SELECT vec_id, embedding, sig FROM sigs
         |  UNION ALL
         |  SELECT vec_id, embedding, xor(sig, CAST(1 AS BIGINT) << i) AS sig
         |  FROM sigs, range(0, 6) t(i)),
         | pairs AS (
         |  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2,
         |   floor((list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))*1e6 + 0.5)/1e6 AS cos_sim
         |  FROM sigs a JOIN pair_probes b ON a.sig = b.sig AND a.vec_id < b.vec_id)
         |SELECT id1, id2, cos_sim FROM pairs WHERE cos_sim >= 0.4""".stripMargin,
    // the bridge stub's md5 fixed-point embeddings re-derived per
    // component, then the exact-cosine-top-k shape — the inference
    // PLUMBING (batching, lifecycle, ordering) is what the hash gate
    // actually pins, since the arithmetic is shared by construction
    "bridge_knn" ->
      """WITH de AS (SELECT doc_id, list_transform(range(0, 16), j ->
        |   CAST(((('0x' || substr(md5('emb:' || j || ':' || text), 1, 15))::BIGINT
        |     % 2000001) - 1000000) / 1e6 AS REAL)) AS e
        |  FROM documents WHERE text IS NOT NULL),
        | q AS (SELECT doc_id AS query_id, e AS qv FROM de WHERE doc_id < 10),
        | scored AS (SELECT q.query_id, d.doc_id AS neighbor_id,
        |   floor((list_cosine_similarity(CAST(d.e AS DOUBLE[]),
        |     CAST(q.qv AS DOUBLE[])))*1e6 + 0.5)/1e6 AS score
        |  FROM de d, q)
        |SELECT query_id, neighbor_id, score, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, neighbor_id) AS rank FROM scored)
        |WHERE rank <= 5""".stripMargin,
    "knn_exact_cosine" -> exactTopkSql("cosine", probesSql),
    // contrastive triplets — hardest positive × top-3 negatives, margins
    "training_triplets" ->
      """WITH a AS (SELECT vec_id AS query_id, embedding AS qv,
        |           label AS qlabel FROM embeddings WHERE vec_id < 50),
        | scored AS (
        |  SELECT a.query_id, a.qlabel, e.vec_id, e.label,
        |   floor((list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(a.qv AS DOUBLE[])))*1e6 + 0.5)/1e6 AS score
        |  FROM embeddings e, a WHERE e.vec_id <> a.query_id),
        | pos AS (SELECT query_id, vec_id AS pos_id, score AS pos_score FROM (
        |   SELECT query_id, vec_id, score, row_number() OVER (
        |     PARTITION BY query_id ORDER BY score DESC, vec_id) AS prn
        |   FROM scored WHERE label = qlabel) WHERE prn = 1),
        | negs AS (SELECT query_id, rnk, vec_id AS neg_id,
        |   score AS neg_score FROM (
        |   SELECT query_id, vec_id, score, row_number() OVER (
        |     PARTITION BY query_id ORDER BY score DESC, vec_id) AS rnk
        |   FROM scored WHERE label <> qlabel) WHERE rnk <= 3)
        |SELECT n.query_id, n.rnk, p.pos_id, n.neg_id, p.pos_score,
        | n.neg_score,
        | floor((p.pos_score - n.neg_score)*1e6 + 0.5)/1e6 AS margin
        |FROM negs n JOIN pos p USING (query_id)""".stripMargin,
    // hard-negative mining — exact cosine, same float grain as knn_exact
    "hard_negatives" ->
      """WITH a AS (SELECT vec_id AS query_id, embedding AS qv,
        |           label AS qlabel FROM embeddings WHERE vec_id < 50),
        | scored AS (
        |  SELECT a.query_id, a.qlabel, e.vec_id, e.label,
        |   floor((list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(a.qv AS DOUBLE[])))*1e6 + 0.5)/1e6 AS score
        |  FROM embeddings e, a WHERE e.vec_id <> a.query_id),
        | pos AS (SELECT query_id, max(score) AS pos_score FROM scored
        |         WHERE label = qlabel GROUP BY 1),
        | top AS (SELECT query_id, vec_id, label, score,
        |   row_number() OVER (PARTITION BY query_id
        |     ORDER BY score DESC, vec_id) AS rnk
        |  FROM scored WHERE label <> qlabel)
        |SELECT t.query_id, t.rnk, t.vec_id AS neighbor_id, t.label,
        |  t.score, p.pos_score, t.score < p.pos_score AS semi_hard
        |FROM top t LEFT JOIN pos p USING (query_id) WHERE t.rnk <= 5""".stripMargin,
    "knn_exact_euclid" -> exactTopkSql("euclidean", probesSql),
    "knn_exact_dot" -> exactTopkSql("dot", probesSql),
    "vec_norms" ->
      """SELECT vec_id, label,
        | floor((list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))*1e6 + 0.5)/1e6 AS self_dot,
        | floor((sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))))*1e6 + 0.5)/1e6 AS l2_norm
        |FROM embeddings""".stripMargin,
    "near_dup_embeddings" ->
      """SELECT a.vec_id AS id1, b.vec_id AS id2,
        | floor((list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))*1e6 + 0.5)/1e6 AS cos_sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE floor((list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))*1e6 + 0.5)/1e6 >= 0.4""".stripMargin,
    "label_centroid_norm" ->
      """SELECT label, count(*) AS n,
        | floor((avg(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))))*1e6 + 0.5)/1e6 AS avg_norm
        |FROM embeddings GROUP BY label""".stripMargin,
    "maxsim_multivec_lsh" ->
      s"""$lshSigsCte,
         | dsig AS (SELECT vec_id // 8 AS doc_id, sig FROM sigs),
         | mq AS (SELECT vec_id // 8 AS query_id, sig AS qsig FROM sigs
         |        WHERE vec_id < 40),
         | mprobes AS (
         |  SELECT query_id, qsig AS sig FROM mq
         |  UNION ALL
         |  SELECT query_id, xor(qsig, CAST(1 AS BIGINT) << i) AS sig
         |  FROM mq, range(0, 6) t(i)),
         | cand AS (SELECT DISTINCT p.query_id, d.doc_id
         |          FROM mprobes p JOIN dsig d ON p.sig = d.sig),
         | dv AS (SELECT vec_id // 8 AS doc_id, embedding AS dvec FROM embeddings),
         | qbag AS (SELECT vec_id // 8 AS query_id, CAST(vec_id % 8 AS INT) AS vec_no,
         |          embedding AS qvec FROM embeddings WHERE vec_id < 40),
         | pairs AS (
         |  SELECT c.query_id, c.doc_id, q.vec_no,
         |   max(list_inner_product(CAST(d.dvec AS DOUBLE[]), CAST(q.qvec AS DOUBLE[]))) AS best
         |  FROM cand c JOIN dv d ON d.doc_id = c.doc_id
         |   JOIN qbag q ON q.query_id = c.query_id
         |  GROUP BY 1, 2, 3),
         | scored AS (
         |  SELECT query_id, doc_id, floor((sum(best))*1e6 + 0.5)/1e6 AS score
         |  FROM pairs GROUP BY 1, 2)
         |SELECT query_id, doc_id, score, rank FROM (
         | SELECT *, row_number() OVER (PARTITION BY query_id
         |   ORDER BY score DESC, doc_id) AS rank FROM scored)
         |WHERE rank <= 10""".stripMargin,
    "maxsim_multivec" ->
      """WITH dv AS (SELECT vec_id // 8 AS doc_id, embedding AS dvec FROM embeddings),
        | qv AS (SELECT vec_id // 8 AS query_id, CAST(vec_id % 8 AS INT) AS vec_no,
        |         embedding AS qvec FROM embeddings WHERE vec_id < 40),
        | pairs AS (
        |  SELECT q.query_id, d.doc_id, q.vec_no,
        |   max(list_inner_product(CAST(d.dvec AS DOUBLE[]), CAST(q.qvec AS DOUBLE[]))) AS best
        |  FROM dv d CROSS JOIN qv q GROUP BY 1, 2, 3),
        | scored AS (
        |  SELECT query_id, doc_id, floor((sum(best))*1e6 + 0.5)/1e6 AS score
        |  FROM pairs GROUP BY 1, 2)
        |SELECT query_id, doc_id, score, rank FROM (
        | SELECT *, row_number() OVER (PARTITION BY query_id
        |   ORDER BY score DESC, doc_id) AS rank FROM scored)
        |WHERE rank <= 10""".stripMargin
  )
}
