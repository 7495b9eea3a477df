package graftperf

import org.apache.spark.sql.{DataFrame, Row}

import graft.hnsw.{HnswIndexer, HnswModel, HnswParams}
import graft.operators.{KnnJoin, TextIndex}

/** `point_serve`: an analyst's session over prebuilt artifacts. Each step
  * of the closed loop sends three single-query requests in turn — an
  * HNSW kNN (`HnswModel.knnJoin`, k = 10), an exact kNN
  * (`KnnJoin.exactKnnJoin`) and a 3-term BM25 (`TextIndex.bm25TopDocs`,
  * top 10) — each timed from the call to the end of its `collect`.
  * Nearly all of a request's time is fixed per-query cost: planning,
  * eager driver actions, job and stage scheduling of tiny tasks. */
object PointServe {
  val Base = 6000
  val Docs = 4000
  val Pool = 48
  val K = 10
  /** request times stop falling after about this many steps */
  val WarmSteps = 8
  /** a warm step takes about this long on a 4-core machine */
  val StepSeconds = 1.2
  val Params: Long => HnswParams = seed => HnswParams(m = 16, efConstruction = 100,
    efSearch = 64, metric = "cosine", seed = seed, numPartitions = 4)

  def run(ctx: Ctx, in: Inputs, seed: Long, seconds: Double): Workload.Outcome = {
    val spark = ctx.spark
    val mix = in.mixture
    val base = mix.draw(in.rng(2), Base)
    val ids = Array.tabulate(Base)(_.toLong)
    val queries = mix.draw(in.rng(3), Pool)
    val zipf = new in.Zipf
    val docs = zipf.docs(in.rng(4), Docs)
    val termQueries = zipf.queries(in.rng(5), Pool, 3)
    val ref = new Bm25Ref(termQueries.flatten.toSet)
    docs.indices.foreach(i => ref.add(i.toLong, docs(i)))
    val truth = BruteForce.topKIds(base, ids, queries, K, ctx.cores)
    val bm25Truth = termQueries.map(ref.topK(_, K))

    val baseDf = ctx.vectorsDf(ids, base, "vec_id", "embedding").cache()
    ctx.op("setup.base", timed = false)(baseDf)(_.count())(n =>
      Option.when(n != Base)(s"cached $n of $Base vectors"))
    // the fit is lazy: materialising the persisted graph is part of it
    val served = ctx.op[HnswModel, (HnswModel, Long)]("hnsw.fit", timed = false)(
      HnswIndexer.fit(baseDf, Params(seed)))(m => (m, m.graph.count())) { case (_, n) =>
      Option.when(n != Base)(s"graph holds $n of $Base nodes")
    }.map(_._1._1).getOrElse(sys.error("hnsw.fit failed"))
    val prefix = s"ps_$seed"
    ctx.op[TextIndex.Stats, TextIndex.Stats]("text.build", timed = false)(
      TextIndex.build(ctx.docsDf(docs.indices.map(_.toLong), docs.toSeq), prefix))(identity)(st =>
      Option.when(st.n != Docs)(s"index stats n=${st.n}, built $Docs docs"))

    def qdf(i: Int): DataFrame =
      ctx.vectorsDf(Array(i.toLong), Array(queries(i)), "query_id", "query_vec")

    def knn(i: Int, timed: Boolean): Option[Double] = {
      val q = qdf(i)
      ctx.op[DataFrame, Array[Row]]("hnsw.knn", timed, _.length.toLong)(served.knnJoin(q, K))(_.collect())(rs =>
        Ctx.knnShape(Ctx.knnRows(rs), Seq(i.toLong), K)).map(_._2)
    }
    def exact(i: Int, timed: Boolean): Option[Double] = {
      val q = qdf(i)
      ctx.op[DataFrame, Array[Row]]("exact", timed, _.length.toLong,
        extra = Map("pairs" -> Base.toDouble))(
        KnnJoin.exactKnnJoin(baseDf, q, K))(_.collect()) { rs =>
        val got = Ctx.knnRows(rs)
        Ctx.knnShape(got, Seq(i.toLong), K).orElse {
          val ids = got(i.toLong).map(_._1)
          Option.when(ids != truth(i).toSeq)(
            s"query $i top-$K ${ids.mkString(",")} != brute force ${truth(i).mkString(",")}")
        }
      }.map(_._2)
    }
    def bm25(i: Int, timed: Boolean): Option[Double] = {
      val q = ctx.termsDf(Seq((i.toLong, termQueries(i))))
      ctx.op[DataFrame, Array[Row]]("bm25", timed, _.length.toLong)(
        TextIndex.bm25TopDocs(spark, prefix, q, K))(_.collect()) { rs =>
        val got = rs.toSeq.map(r => (r.getAs[Int]("rnk"), r.getAs[Long]("doc_id"), r.getAs[Double]("bm25")))
          .sortBy(_._1).map(x => (x._2, x._3))
        Option.when(got != bm25Truth(i))(
          s"query ${termQueries(i).mkString(" ")}: ${got.take(3)} != reference ${bm25Truth(i).take(3)}")
      }.map(_._2)
    }
    def step(i: Int, timed: Boolean): Option[Double] = {
      val j = i % Pool
      for (a <- knn(j, timed); b <- exact(j, timed); c <- bm25(j, timed)) yield a + b + c
    }

    val warm = Workload.warmUp(WarmSteps)(step(_, timed = false))
    val windowStartMs = System.currentTimeMillis()
    val setupS = (windowStartMs - Jvm.startMs) / 1000.0
    val steps = Workload.window(Workload.stepsFor(seconds, StepSeconds, least = 4), ctx.takeCpu)(
      i => step(warm + i, timed = true))

    // recall of the served model over the whole query pool (untimed)
    val all = ctx.vectorsDf(Array.tabulate(Pool)(_.toLong), queries, "query_id", "query_vec")
    val recall = ctx.op[DataFrame, Array[Row]]("knn.recall", timed = false)(
      served.knnJoin(all, K))(_.collect())(rs => Ctx.knnShape(Ctx.knnRows(rs), 0L until Pool, K))
      .map { case (rs, _) =>
        val got = Ctx.knnRows(rs)
        BruteForce.recall((0 until Pool).map(q => got(q.toLong).map(_._1)), truth.toSeq.map(_.toSeq))
      }.getOrElse(0.0)

    val layers = ctx.tracer.map { _ =>
      Workload.kernelProbe(ctx, base, queries, K) ++
        Workload.cosineProbe(ctx, base, queries) ++
        Workload.saveProbe(ctx, served)
    }.getOrElse(Map.empty)
    Workload.Outcome(setupS, windowStartMs, steps.map(_._1), steps.map(_._2), Stats.median,
      recall, layers)
  }
}
