package graftperf

import scala.collection.mutable

/** Exact cosine top-k on the driver: the ground truth for recall and for
  * `KnnJoin.exactKnnJoin`. Scores use `graft.hnsw.Metric.Cosine`, whose
  * arithmetic (double accumulation in index order) is the same as the
  * `cosine_sim` expression's; ties rank by ascending id, as every engine
  * kNN operator does. */
object BruteForce {

  def topK(base: Array[Array[Float]], ids: Array[Long], q: Array[Float],
      k: Int): Array[(Long, Double)] = {
    val heap = mutable.PriorityQueue.empty[(Double, Long)](
      // the worst kept candidate (lowest score, then highest id) on top
      Ordering.by[(Double, Long), (Double, Long)](x => (-x._1, x._2)))
    var i = 0
    while (i < base.length) {
      val s = graft.hnsw.Metric.Cosine.sim(base(i), q)
      if (heap.size < k) heap.enqueue((s, ids(i)))
      else {
        val (ws, wid) = heap.head
        if (s > ws || (s == ws && ids(i) < wid)) { heap.dequeue(); heap.enqueue((s, ids(i))) }
      }
      i += 1
    }
    heap.toArray.sortBy(x => (-x._1, x._2)).map(x => (x._2, x._1))
  }

  /** Top-k ids of every query, computed on `threads` driver threads. */
  def topKIds(base: Array[Array[Float]], ids: Array[Long],
      queries: Array[Array[Float]], k: Int, threads: Int): Array[Array[Long]] = {
    val out = new Array[Array[Long]](queries.length)
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val workers = (0 until math.max(1, threads)).map { _ =>
      new Thread(() => {
        var j = next.getAndIncrement()
        while (j < queries.length) {
          out(j) = topK(base, ids, queries(j), k).map(_._1)
          j = next.getAndIncrement()
        }
      })
    }
    workers.foreach(_.start()); workers.foreach(_.join())
    out
  }

  /** Micro-averaged recall: |found ∩ truth| summed ÷ |truth| summed. */
  def recall(found: Seq[Seq[Long]], truth: Seq[Seq[Long]]): Double = {
    require(found.length == truth.length, "one result list per query")
    val hit = found.zip(truth).map { case (f, t) => f.toSet.intersect(t.toSet).size }.sum
    hit.toDouble / truth.map(_.size).sum
  }
}

/** BM25 over an in-memory corpus, limited to a fixed set of query terms —
  * the reference `TextIndex.bm25TopDocs` is checked against. Tokens are
  * the whitespace split `TextIndex` uses; the score is written in the
  * same operation order (k1 = 1.2, b = 0.75) and rounded to 4 digits
  * before ranking; ties rank by ascending doc id. */
final class Bm25Ref(terms: Set[String], k1: Double = 1.2, b: Double = 0.75) {
  // term -> (doc_id, tf, dl) for every doc holding the term
  private val postings = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Long, Long)]]
  private var n = 0L
  private var sumdl = 0L

  def docs: Long = n

  def add(docId: Long, text: String): Unit = {
    val toks = text.trim.split("\\s+")
    n += 1; sumdl += toks.length
    toks.iterator.filter(terms.contains).toSeq.groupBy(identity).foreach { case (t, occ) =>
      postings.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += ((docId, occ.size.toLong, toks.length.toLong))
    }
  }

  def score(df: Long, tf: Long, dl: Long): Double = {
    val avgdl = sumdl.toDouble / n
    StrictMath.log(1.0 + (n.toDouble - df + 0.5) / (df + 0.5)) * tf * (k1 + 1.0) /
      (tf + k1 * (1.0 - b + b * dl / avgdl))
  }

  /** (doc_id, bm25) of the top `k` docs for one query. */
  def topK(query: Seq[String], k: Int): Seq[(Long, Double)] = {
    val acc = mutable.HashMap.empty[Long, Double]
    query.distinct.foreach { t =>
      require(terms.contains(t), s"term $t is outside the reference's term set")
      val ps = postings.getOrElse(t, mutable.ArrayBuffer.empty)
      ps.foreach { case (doc, tf, dl) => acc(doc) = acc.getOrElse(doc, 0.0) + score(ps.size, tf, dl) }
    }
    acc.toSeq.map { case (doc, s) => (doc, Bm25Ref.round4(s)) }
      .sortBy { case (doc, s) => (-s, doc) }.take(k)
  }
}

object Bm25Ref {
  /** `graft.Qutil.rnd(x, 4)`: floor(x * 10^4 + 0.5) / 10^4. */
  def round4(x: Double): Double = math.floor(x * 10000.0 + 0.5).toLong / 10000.0
}
