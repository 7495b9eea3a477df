package graftperf

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.hnsw.HnswParams
import graft.operators.{KnnJoin, TextIndex}
import graft.streaming.IncrementalIndex

/** `ingest_mixed`: one ingest job that also answers batched reads. Each
  * step of the closed loop is one epoch, and the window runs a fixed
  * number of them: `IncrementalIndex.processBatch`
  * of new vectors, four rounds of an `IncrementalIndex.knnJoin` batch
  * and an `exactKnnJoin` batch against the first (cached) batch of
  * vectors, `TextIndex.append` of new docs, then a `bm25TopDocs` batch.
  * Writes sit beside reads, the index grows, and the text index gains one file set
  * per epoch — so a read-side gain that costs inserts or commits shows
  * here, as does read cost drifting while append epochs accumulate. */
object IngestMixed {
  val InitVectors = 2000
  val BatchVectors = 1000
  val KnnQueries = 100
  val ExactQueries = 16
  val InitDocs = 1000
  val BatchDocs = 200
  val Bm25Queries = 10
  /** Rounds of the kNN and exact reads per epoch. The first round after
    * the writes costs up to twice what the last one does. */
  val ReadRounds = 4
  val TermPool = 240
  val K = 10
  /** The window runs one epoch per this many seconds of `--seconds`, and
    * at least 3 (an epoch takes about this long on a 4-core machine). */
  val EpochSeconds = 9.0
  /** untimed epochs: the first pays for cold code paths; the second still
    * runs slower than later ones, and the median epoch sets it aside */
  val WarmEpochs = 1

  def run(ctx: Ctx, in: Inputs, seed: Long, seconds: Double): Workload.Outcome = {
    val spark = ctx.spark
    val mix = in.mixture
    val zipf = new in.Zipf
    val termQueries = zipf.queries(in.rng(5), TermPool, 3)
    val ref = new Bm25Ref(termQueries.flatten.toSet)
    val vecs = mutable.ArrayBuffer.empty[Array[Float]]
    var docCount = 0L
    val inc = new IncrementalIndex(spark, HnswParams(m = 16, efConstruction = 100,
      efSearch = 64, metric = "cosine", seed = seed, numPartitions = 4))
    val prefix = s"im_$seed"
    var recallHit = 0.0
    var recallAll = 0.0
    val filesWritten = mutable.ArrayBuffer.empty[Double]
    var filesTotal = 0.0
    // exact kNN reads the first ingest batch (epoch 0), cached, as its corpus
    val seedVecs = mix.draw(in.rng(1000), InitVectors)
    val seedIds = Array.tabulate(InitVectors)(_.toLong)
    val seedDf = ctx.vectorsDf(seedIds, seedVecs, "vec_id", "embedding").cache()

    def ingest(epoch: Int, n: Int, timed: Boolean): Option[Double] = {
      val batch = mix.draw(in.rng(1000 + epoch), n)
      val ids = Array.tabulate(n)(i => (vecs.length + i).toLong)
      val df = ctx.vectorsDf(ids, batch, "vec_id", "embedding")
      val r = ctx.op[Unit, Unit]("inc.process", timed)(inc.processBatch(df, epoch))(identity)(_ => None)
      vecs ++= batch
      ctx.verify("inc.ingested")(Option.when(inc.ingestedCount != vecs.length)(
        s"ingested ${inc.ingestedCount} of ${vecs.length} rows"))
      r.map(_._2)
    }
    def knn(round: Int, timed: Boolean): Option[Double] = {
      val qs = mix.draw(in.rng(2000 + round), KnnQueries)
      val qids = (0 until KnnQueries).map(_.toLong)
      val q = ctx.vectorsDf(qids.toArray, qs, "query_id", "query_vec")
      ctx.op[DataFrame, Array[Row]]("inc.knn", timed, _.length.toLong)(inc.knnJoin(q, K))(_.collect()) { rs =>
        val got = Ctx.knnRows(rs)
        Ctx.knnShape(got, qids, K).orElse {
          val truth = BruteForce.topKIds(vecs.toArray, Array.tabulate(vecs.length)(_.toLong), qs, K, ctx.cores)
          val found = qids.map(got(_).map(_._1))
          if (timed) {
            recallHit += BruteForce.recall(found, truth.toSeq.map(_.toSeq)) * KnnQueries * K
            recallAll += KnnQueries * K
          }
          None
        }
      }.map(_._2)
    }
    def exact(round: Int, timed: Boolean): Option[Double] = {
      val qs = mix.draw(in.rng(3000 + round), ExactQueries)
      val qids = (0 until ExactQueries).map(_.toLong)
      val q = ctx.vectorsDf(qids.toArray, qs, "query_id", "query_vec")
      ctx.op[DataFrame, Array[Row]]("exact", timed, _.length.toLong,
        extra = Map("pairs" -> InitVectors.toDouble * ExactQueries))(
        KnnJoin.exactKnnJoin(seedDf, q, K))(_.collect()) { rs =>
        val got = Ctx.knnRows(rs)
        Ctx.knnShape(got, qids, K).orElse {
          val truth = BruteForce.topKIds(seedVecs, seedIds, qs, K, ctx.cores)
          qids.find(i => got(i).map(_._1) != truth(i.toInt).toSeq).map(i =>
            s"query $i top-$K ${got(i).map(_._1).mkString(",")} != brute force ${truth(i.toInt).mkString(",")}")
        }
      }.map(_._2)
    }
    def append(epoch: Int, n: Int, build: Boolean, timed: Boolean): Option[Double] = {
      val texts = zipf.docs(in.rng(4000 + epoch), n)
      val ids = (0 until n).map(i => docCount + i)
      val df = ctx.docsDf(ids, texts.toSeq)
      val before = if (ctx.tracer.isDefined) Workload.dataFiles(s"${ctx.work}/warehouse") else 0
      val kind = if (build) "text.build" else "text.append"
      val r = ctx.op[TextIndex.Stats, TextIndex.Stats](kind, timed)(
        if (build) TextIndex.build(df, prefix) else TextIndex.append(df, prefix))(identity) { st =>
        Option.when(st.n != docCount + n)(s"index stats n=${st.n}, appended ${docCount + n} docs")
      }
      if (ctx.tracer.isDefined && timed) {
        filesTotal = Workload.dataFiles(s"${ctx.work}/warehouse").toDouble
        filesWritten += filesTotal - before
      }
      ids.zip(texts).foreach { case (id, t) => ref.add(id, t) }
      docCount += n
      r.map(_._2)
    }
    def bm25(epoch: Int, timed: Boolean): Option[Double] = {
      val picks = (0 until Bm25Queries).map(j => termQueries((epoch * Bm25Queries + j) % TermPool))
      val q = ctx.termsDf(picks.indices.map(j => (j.toLong, picks(j))))
      ctx.op[DataFrame, Array[Row]]("bm25", timed, _.length.toLong)(
        TextIndex.bm25TopDocs(spark, prefix, q, K))(_.collect()) { rs =>
        val got = rs.toSeq.groupBy(_.getAs[Long]("qid")).map { case (qid, xs) =>
          qid -> xs.sortBy(_.getAs[Int]("rnk")).map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("bm25")))
        }
        picks.indices.collectFirst {
          case j if got.getOrElse(j.toLong, Seq.empty) != ref.topK(picks(j), K) =>
            s"query ${picks(j).mkString(" ")}: ${got.getOrElse(j.toLong, Seq.empty).take(3)} != " +
              s"reference ${ref.topK(picks(j), K).take(3)}"
        }
      }.map(_._2)
    }
    // the batched kNN and exact reads are the cheap operations of an
    // epoch; several rounds of them give each kind enough samples
    def reads(epoch: Int, timed: Boolean): Option[Double] =
      (0 until ReadRounds).foldLeft(Option(0.0)) { (acc, r) =>
        val id = epoch * ReadRounds + r
        for (t <- acc; b <- knn(id, timed); c <- exact(id, timed)) yield t + b + c
      }
    def step(epoch: Int, timed: Boolean): Option[Double] =
      for {
        a <- ingest(epoch, BatchVectors, timed)
        b <- reads(epoch, timed)
        d <- append(epoch, BatchDocs, build = false, timed)
        e <- bm25(epoch, timed)
      } yield a + b + d + e

    ingest(0, InitVectors, timed = false).getOrElse(sys.error("initial processBatch failed"))
    ctx.op[DataFrame, Long]("setup.base", timed = false)(seedDf)(_.count())(n =>
      Option.when(n != InitVectors)(s"cached $n of $InitVectors vectors"))
    append(0, InitDocs, build = true, timed = false).getOrElse(sys.error("TextIndex.build failed"))
    val warm = Workload.warmUp(WarmEpochs)(i => step(1 + i, timed = false))
    val windowStartMs = System.currentTimeMillis()
    val setupS = (windowStartMs - Jvm.startMs) / 1000.0
    // a fixed number of epochs, so that the index sizes each epoch sees
    // depend on `--seconds` only, never on how fast earlier epochs ran
    val steps = Workload.window(Workload.stepsFor(seconds, EpochSeconds, least = 3), ctx.takeCpu)(
      i => step(1 + warm + i, timed = true))

    val indexed = inc.indexedCount()
    ctx.verify("inc.indexed")(Option.when(indexed != vecs.length)(
      s"indexedCount $indexed, ingested ${vecs.length}"))

    val layers = ctx.tracer.map { _ =>
      val probeQueries = mix.draw(in.rng(6), 48)
      Workload.kernelProbe(ctx, vecs.toArray, probeQueries, K) ++
        Workload.cosineProbe(ctx, vecs.toArray, probeQueries) ++
        Map("text.append.files_written" -> Stats.median(filesWritten.toSeq),
          "text.index.files_total" -> filesTotal)
    }.getOrElse(Map.empty)
    inc.close()
    // a read costs more the sooner it follows the epoch's writes, so a
    // request kind's figure is the window's total over its count, which
    // weighs every position in the epoch alike in every run
    Workload.Outcome(setupS, windowStartMs, steps.map(_._1), steps.map(_._2), Stats.mean,
      if (recallAll > 0) recallHit / recallAll else 0.0, layers)
  }
}
