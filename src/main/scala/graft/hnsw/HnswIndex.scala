package graft.hnsw

import scala.collection.mutable

/** Similarity metric over float vectors, double accumulation.
  * Semantics per reference src/similarity.ts:2-24 — euclidean is the
  * similarity 1/(1+L2), not a distance (higher is better for both). */
sealed trait Metric extends Serializable {
  def name: String
  def sim(a: Array[Float], b: Array[Float]): Double
}
object Metric {
  case object Cosine extends Metric {
    val name = "cosine"
    def sim(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
  }
  case object Euclidean extends Metric {
    val name = "euclidean"
    def sim(a: Array[Float], b: Array[Float]): Double = {
      var ss = 0.0
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val d = a(i).toDouble - b(i)
        ss += d * d
        i += 1
      }
      1.0 / (1.0 + math.sqrt(ss))
    }
  }
  /** Invalid metric throws — reference src/main.ts:42-44. */
  def apply(name: String): Metric = name match {
    case "cosine"    => Cosine
    case "euclidean" => Euclidean
    case other       => throw new IllegalArgumentException(s"Invalid metric: $other")
  }

  /** dot(a,b), double accumulation, 4-way unrolled (separate accumulators
    * give the JIT instruction-level parallelism the serial loop can't —
    * measured ~2x on 64-d). Summation order differs from the naive loop by
    * final-ulp rounding only; the oracle-gated exact path uses the
    * Catalyst expressions, not this kernel. */
  def dot(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
    var i = 0
    val n4 = n - 3
    while (i < n4) {
      s0 += a(i).toDouble * b(i)
      s1 += a(i + 1).toDouble * b(i + 1)
      s2 += a(i + 2).toDouble * b(i + 2)
      s3 += a(i + 3).toDouble * b(i + 3)
      i += 4
    }
    var s = s0 + s1 + s2 + s3
    while (i < n) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  /** sqrt(dot(a,a)) with the same accumulation order as [[Cosine.sim]]'s
    * norm term — caching it reproduces cosine scores bit-for-bit. */
  def l2norm(a: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val x = a(i).toDouble; s += x * x; i += 1 }
    math.sqrt(s)
  }
}

/** Graph node (reference src/node.ts:1-13): jagged per-layer adjacency,
  * each layer holding at most M neighbor ids. `vector` is mutable for
  * the in-place update path ([[HnswIndex.updatePoint]]); reset `norm`
  * whenever it changes. */
final class HnswNode(val id: Long, var vector: Array[Float], val level: Int) {
  var neighbors: Array[Array[Long]] = Array.fill(level + 1)(Array.empty[Long])
  /** cached L2 norm for the cosine fast path (lazy; -1 = not computed).
    * Derived, never serialized. */
  var norm: Double = -1.0
  def neighborsAt(l: Int): Array[Long] =
    if (l < neighbors.length) neighbors(l) else Array.empty[Long]
  def ensureLevel(l: Int): Unit =
    if (l >= neighbors.length) {
      val grown = Array.fill(l + 1)(Array.empty[Long])
      System.arraycopy(neighbors, 0, grown, 0, neighbors.length)
      neighbors = grown
    }
}

/** Injectable level sampler (the reference mocks selectLevel in tests —
  * tests/HNSW.test.ts:32-34 — so keep it pluggable). */
trait LevelSampler extends Serializable { def level(id: Long): Int }

/** Deterministic, partition-order-independent sampler: the level draw is a
  * pure function of (seed, id) via a splitmix64 mix, walking the same
  * cumulative probability table as the reference (src/main.ts:47-69,
  * probs[l] = e^(−l/mL)(1−e^(−1/mL)), mL = 1/ln M, truncated below 1e-9).
  * This removes the reference's only nondeterminism (unseeded
  * Math.random, src/main.ts:60) while preserving the distribution. */
final class SeededLevelSampler(probs: Array[Double], seed: Long) extends LevelSampler {
  def level(id: Long): Int = {
    var z = seed ^ (id * 0x9E3779B97F4A7C15L)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    var r = (z >>> 11).toDouble / (1L << 53).toDouble
    var i = 0
    while (i < probs.length) {
      if (r < probs(i)) return i
      r -= probs(i)
      i += 1
    }
    probs.length - 1
  }
}

/** Primitive parallel-array binary heap over (score, node) — the port of
  * the reference heap semantics (src/heap.ts:1-76) without per-element
  * tuple/box allocation. `max` selects max-heap (candidates) vs min-heap
  * (bounded best list). */
private[hnsw] final class ScoreNodeHeap(initCap: Int, max: Boolean) {
  private var scores = new Array[Double](math.max(4, initCap))
  private var elems = new Array[HnswNode](math.max(4, initCap))
  private var n = 0
  def size: Int = n
  def peekScore: Double = scores(0)
  @inline private def better(a: Double, b: Double): Boolean =
    if (max) a > b else a < b
  private def grow(): Unit =
    if (n == scores.length) {
      scores = java.util.Arrays.copyOf(scores, n * 2)
      elems = java.util.Arrays.copyOf(elems, n * 2)
    }
  def add(s: Double, e: HnswNode): Unit = {
    grow()
    var i = n
    n += 1
    while (i > 0 && better(s, scores((i - 1) >> 1))) {
      val p = (i - 1) >> 1
      scores(i) = scores(p); elems(i) = elems(p)
      i = p
    }
    scores(i) = s; elems(i) = e
  }
  def pollNode(): HnswNode = {
    val top = elems(0)
    n -= 1
    if (n > 0) {
      val s = scores(n); val e = elems(n)
      elems(n) = null
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1; val r = l + 1
        var m = i
        var ms = s
        if (l < n && better(scores(l), ms)) { m = l; ms = scores(l) }
        if (r < n && better(scores(r), ms)) { m = r }
        if (m == i) done = true
        else {
          scores(i) = scores(m); elems(i) = elems(m)
          i = m
        }
      }
      scores(i) = s; elems(i) = e
    } else elems(0) = null
    top
  }
  /** Empty the heap into (scores, nodes) sorted by (-score, id). */
  def drainSortedDesc(): (Array[Double], Array[HnswNode]) = {
    val k = n
    val idx = Array.range(0, k)
    val ss = java.util.Arrays.copyOf(scores, k)
    val es = java.util.Arrays.copyOf(elems, k)
    val sorted = idx.sortBy(i => (-ss(i), es(i).id))
    n = 0
    java.util.Arrays.fill(elems.asInstanceOf[Array[AnyRef]], 0, k, null)
    (sorted.map(ss), sorted.map(es))
  }
}

object HnswIndex {
  /** Level probability table (reference src/main.ts:47-57). */
  def levelProbs(m: Int): Array[Double] = {
    val levelMult = 1.0 / math.log(m)
    val buf = mutable.ArrayBuffer.empty[Double]
    var level = 0
    var continue = true
    while (continue) {
      val p = math.exp(-level / levelMult) * (1 - math.exp(-1.0 / levelMult))
      if (p < 1e-9) continue = false
      else { buf += p; level += 1 }
    }
    buf.toArray
  }
}

/** Executor-local HNSW index — a faithful Scala re-expression of the
  * reference algorithm (src/main.ts:8-317): greedy multi-layer descent,
  * ef-bounded best-first layer search, diversity-pruned bidirectional
  * linking with reciprocal-link cleanup. One instance per Spark partition
  * in the distributed model (see [[graft.hnsw.HnswSpark]]); never touched
  * by Catalyst — this is deliberately plain JVM code on the executor.
  *
  * @param efSearchOpt defaults to efConstruction for back-compat
  *                    (reference src/main.ts:29).
  */
final class HnswIndex(
    val M: Int = 16,
    val efConstruction: Int = 200,
    private[hnsw] var dIn: Int = -1,
    val metric: Metric = Metric.Cosine,
    efSearchOpt: Option[Int] = None,
    samplerOpt: Option[LevelSampler] = None,
    val seed: Long = 42L) extends Serializable {

  val efSearch: Int = efSearchOpt.getOrElse(efConstruction)
  val probs: Array[Double] = HnswIndex.levelProbs(M)
  private val sampler: LevelSampler =
    samplerOpt.getOrElse(new SeededLevelSampler(probs, seed))

  val nodes: mutable.LongMap[HnswNode] = mutable.LongMap.empty
  var levelMax: Int = -1
  var entryPointId: Long = -1L
  def d: Int = dIn

  /** Tombstoned ids ([[removePoint]]): excluded from searchKNN RESULTS,
    * [[toRows]] and [[size]], but their nodes keep their edges and stay
    * traversable — hard-deleting would tear holes in the graph's
    * navigability (the standard soft-delete HNSW contract). Tombstones
    * are purged by any rebuild: toRows serializes live nodes only, so
    * snapshot/compact/save→load all come back clean. */
  private val deleted: mutable.LongMap[Unit] = mutable.LongMap.empty
  def deletedCount: Int = deleted.size
  def isDeleted(id: Long): Boolean = deleted.contains(id)

  /** LIVE node count (tombstones excluded). */
  def size: Int = nodes.size - deleted.size

  private def sim(a: Array[Float], b: Array[Float]): Double = metric.sim(a, b)

  /** Cosine fast path: per-node L2 norms are cached so every similarity is
    * a dot-only loop. Internal index scores may differ from the inline
    * formula by final-ulp rounding (the unrolled dot sums in a different
    * order) — the oracle-gated exact path uses the Catalyst expressions,
    * not this kernel. Guarded on equal dimensions. Euclidean deliberately
    * stays on difference-accumulation: the ‖a‖²+‖b‖²−2·dot identity
    * catastrophically cancels on near-duplicate vectors — precisely the
    * corpora the dedup operators target. */
  private val cosineFast = metric eq Metric.Cosine
  @inline private def nodeNorm(n: HnswNode): Double = {
    if (n.norm < 0) n.norm = Metric.l2norm(n.vector)
    n.norm
  }
  @inline private def qNormOf(query: Array[Float]): Double =
    if (cosineFast) Metric.l2norm(query) else 0.0
  @inline private def simQN(query: Array[Float], qNorm: Double, n: HnswNode): Double =
    if (cosineFast && query.length == n.vector.length)
      Metric.dot(query, n.vector) / (qNorm * nodeNorm(n))
    else metric.sim(query, n.vector)
  @inline private def simNN(a: HnswNode, b: HnswNode): Double =
    if (cosineFast && a.vector.length == b.vector.length)
      Metric.dot(a.vector, b.vector) / (nodeNorm(a) * nodeNorm(b))
    else metric.sim(a.vector, b.vector)

  /** O4 greedy 1-NN hill-climb at one layer (src/main.ts:71-91). */
  private def greedySearch(query: Array[Float], qNorm: Double, entry: HnswNode,
      level: Int): HnswNode = {
    var bestNode = entry
    var bestScore = simQN(query, qNorm, entry)
    var improved = true
    while (improved) {
      improved = false
      val nbrs = bestNode.neighborsAt(level)
      var i = 0
      while (i < nbrs.length) {
        val nn = nodes(nbrs(i))
        val s = simQN(query, qNorm, nn)
        if (s > bestScore) { bestScore = s; bestNode = nn; improved = true }
        i += 1
      }
    }
    bestNode
  }

  /** O5 ef-bounded best-first layer search (src/main.ts:93-129).
    * Returns (scores, candidates) parallel arrays sorted by descending
    * score. The heaps are primitive parallel-array heaps — the build hot
    * path allocates no per-candidate tuples/boxes. */
  private def searchLayerScored(query: Array[Float], qNorm: Double,
      entry: HnswNode, level: Int,
      ef: Int): (Array[Double], Array[HnswNode]) = {
    val visited = mutable.LongMap.empty[Unit]
    visited(entry.id) = ()
    // candidates: max-heap by score; best: min-heap by score, bounded at ef
    val candidates = new ScoreNodeHeap(math.max(16, ef), max = true)
    val best = new ScoreNodeHeap(ef + 2, max = false)
    val entryScore = simQN(query, qNorm, entry)
    candidates.add(entryScore, entry)
    best.add(entryScore, entry)

    var break = false
    while (!break && candidates.size > 0) {
      val currentScore = candidates.peekScore
      val currentNode = candidates.pollNode()
      if (best.size >= ef && currentScore < best.peekScore) {
        break = true
      } else {
        val nbrs = currentNode.neighborsAt(level)
        var i = 0
        while (i < nbrs.length) {
          val nid = nbrs(i)
          if (!visited.contains(nid)) {
            visited(nid) = ()
            val nn = nodes(nid)
            val s = simQN(query, qNorm, nn)
            if (best.size < ef || s > best.peekScore) {
              candidates.add(s, nn)
              best.add(s, nn)
              if (best.size > ef) best.pollNode()
            }
          }
          i += 1
        }
      }
    }
    // descending score with ascending-id tie-break: the reference leaves
    // tie order to heap internals (src/main.ts:125-128), which is not
    // stable across serialize/deserialize — the id tie-break makes search
    // results fully deterministic without changing which nodes qualify
    best.drainSortedDesc()
  }

  private def searchLayer(query: Array[Float], entry: HnswNode, level: Int,
      ef: Int): Array[HnswNode] =
    searchLayerScored(query, qNormOf(query), entry, level, ef)._2

  /** O6 neighbor-diversity selection (src/main.ts:171-200): keep a
    * candidate only if it is at least as close to the base as to every
    * already-kept neighbor (ties keep). Callers pass unique candidates
    * with their base similarities precomputed (searchLayer already scored
    * every candidate against the base — recomputing them was measured at
    * ~2x build-time overhead); a stable descending sort preserves the
    * reference's first-seen tie order (src/main.ts:178-183). */
  private def selectNeighborsScored(node: HnswNode, cands: Array[HnswNode],
      candScores: Array[Double], maxNeighbors: Int): Array[HnswNode] = {
    var selfIdx = -1
    var i = 0
    while (i < cands.length && selfIdx == -1) {
      if (cands(i).id == node.id) selfIdx = i
      i += 1
    }
    val (cs, sc) =
      if (selfIdx == -1) (cands, candScores)
      else {
        val c2 = new Array[HnswNode](cands.length - 1)
        val s2 = new Array[Double](cands.length - 1)
        var j = 0; var k = 0
        while (j < cands.length) {
          if (j != selfIdx) { c2(k) = cands(j); s2(k) = candScores(j); k += 1 }
          j += 1
        }
        (c2, s2)
      }
    val order = Array.range(0, cs.length).sortBy(ix => -sc(ix)) // stable
    val selected = mutable.ArrayBuffer.empty[HnswNode]
    i = 0
    while (i < order.length && selected.length < maxNeighbors) {
      val cand = cs(order(i)); val score = sc(order(i))
      val ok = selected.forall(kept => simNN(cand, kept) <= score)
      if (ok) selected += cand
      i += 1
    }
    selected.toArray
  }

  /** O7 pruned adjacency insert (src/main.ts:154-169): re-select over
    * existing∪new, return displaced ids. */
  private def insertNeighbor(node: HnswNode, neighborId: Long, level: Int): Array[Long] = {
    node.ensureLevel(level)
    val existing = node.neighbors(level).filter(_ != neighborId)
    val candidateIds = existing :+ neighborId
    val candidateNodes = candidateIds.flatMap(nodes.get)
    val scores = candidateNodes.map(c => simNN(node, c))
    val selected = selectNeighborsScored(node, candidateNodes, scores, M)
    val selectedIds = selected.map(_.id)
    val removed = existing.filterNot(selectedIds.contains)
    node.neighbors(level) = selectedIds
    removed
  }

  /** O8 bidirectional link + reciprocal cleanup (src/main.ts:139-152):
    * strip the back-edge of any neighbor displaced by pruning, keeping the
    * graph symmetric. */
  private def addBidirectionalConnection(node: HnswNode, other: HnswNode, level: Int): Unit = {
    val removedFromNode = insertNeighbor(node, other.id, level)
    val removedFromOther = insertNeighbor(other, node.id, level)
    removeReciprocalLinks(node, removedFromNode, level)
    removeReciprocalLinks(other, removedFromOther, level)
  }

  private def removeReciprocalLinks(node: HnswNode, removedIds: Array[Long], level: Int): Unit =
    removedIds.foreach { rid =>
      nodes.get(rid).foreach { rn =>
        if (level < rn.neighbors.length) {
          rn.neighbors(level) = rn.neighbors(level).filter(_ != node.id)
        }
      }
    }

  private def connectNodeAtLevel(node: HnswNode, candidates: Array[HnswNode],
      candScores: Array[Double], level: Int): Unit =
    selectNeighborsScored(node, candidates, candScores, M)
      .foreach(addBidirectionalConnection(node, _, level))

  /** O9 node insert (src/main.ts:202-229). */
  private def addNodeToGraph(node: HnswNode): Unit = {
    if (entryPointId == -1L) {
      entryPointId = node.id
      levelMax = node.level
      return
    }
    relink(node)
    if (node.level > levelMax) {
      entryPointId = node.id
      levelMax = node.level
    }
  }

  /** The descent-and-connect phase of an insert, reusable for in-place
    * updates: greedy-descend from the graph entry to the node's level,
    * then ef-bounded search + diversity-pruned bidirectional linking per
    * layer. When the node being (re-)linked IS the entry point (update
    * path only — its own edges were just detached, so descending from it
    * would see an empty graph), descent starts from the highest-level
    * other node instead (min-id tie-break: deterministic). */
  private def relink(node: HnswNode): Unit = {
    val entryId =
      if (entryPointId != node.id) entryPointId
      else {
        var bestLevel = -1
        var bestId = Long.MaxValue
        nodes.valuesIterator.foreach { n =>
          if (n.id != node.id &&
              (n.level > bestLevel || (n.level == bestLevel && n.id < bestId))) {
            bestLevel = n.level
            bestId = n.id
          }
        }
        if (bestLevel == -1) -1L else bestId
      }
    if (entryId == -1L) return // single-node graph: nothing to link to
    var entry = nodes(entryId)
    val qNorm = if (cosineFast) nodeNorm(node) else 0.0
    var level = levelMax
    while (level > node.level) {
      entry = greedySearch(node.vector, qNorm, entry, level)
      level -= 1
    }
    level = math.min(node.level, levelMax)
    while (level >= 0) {
      val (scores, found) = searchLayerScored(node.vector, qNorm, entry, level, efConstruction)
      connectNodeAtLevel(node, found, scores, level)
      if (found.nonEmpty) entry = found(0)
      level -= 1
    }
  }

  /** O10 point ingest (src/main.ts:234-248): dim infer/check, duplicate-id
    * throw, sampled level, graph insert. */
  def addPoint(id: Long, vector: Array[Float]): Unit = {
    if (dIn != -1 && vector.length != dIn)
      throw new IllegalArgumentException("All vectors must be of the same dimension")
    dIn = vector.length
    if (nodes.contains(id))
      throw new IllegalArgumentException(s"Node with id $id already exists")
    val node = new HnswNode(id, vector, sampler.level(id))
    nodes(id) = node
    addNodeToGraph(node)
  }

  /** Soft-delete: `id` stops appearing in search results, [[toRows]] and
    * [[size]], but its node keeps routing traversal (edges intact — the
    * hnswlib/Lucene tombstone pattern). Idempotent: false when the id is
    * absent or already deleted. Tombstones are purged by any
    * serialize-rebuild cycle (toRows emits live nodes only). */
  def removePoint(id: Long): Boolean =
    if (nodes.contains(id) && !deleted.contains(id)) {
      deleted(id) = ()
      true
    } else false

  /** In-place vector UPDATE (the hnswlib updatePoint pattern): detach the
    * node's edges with reciprocal cleanup, replace the vector, and
    * re-link through the standard insert search path at the node's
    * ORIGINAL level (the level draw is a pure function of (seed, id), so
    * it is unchanged by design). Neighbors that lost a back-edge keep
    * their other links — per-update graph degradation is marginal, and
    * compaction rebuilds cleanly. Deterministic given the same graph
    * state. Throws on unknown/deleted ids and dimension mismatch. */
  def updatePoint(id: Long, vector: Array[Float]): Unit = {
    if (dIn != -1 && vector.length != dIn)
      throw new IllegalArgumentException("All vectors must be of the same dimension")
    val node = nodes.getOrElse(id,
      throw new IllegalArgumentException(s"Node with id $id does not exist"))
    if (deleted.contains(id))
      throw new IllegalArgumentException(s"Node with id $id is deleted")
    var l = 0
    while (l < node.neighbors.length) {
      removeReciprocalLinks(node, node.neighbors(l), l)
      l += 1
    }
    node.neighbors = Array.fill(node.level + 1)(Array.empty[Long])
    node.vector = vector
    node.norm = -1.0
    relink(node)
  }

  /** Insert-or-update: fresh id → [[addPoint]]; tombstoned id → revive
    * with the new vector; changed vector → [[updatePoint]]; identical
    * vector → no-op. Returns true iff the index was MUTATED (callers
    * meter applied work with it; live count grows only on insert or
    * revive, which the caller can distinguish via [[isDeleted]]/
    * [[size]] beforehand if needed). */
  def upsertPoint(id: Long, vector: Array[Float]): Boolean =
    nodes.get(id) match {
      case None =>
        addPoint(id, vector)
        true
      case Some(n) =>
        if (deleted.contains(id)) {
          deleted.remove(id)
          updatePoint(id, vector)
          true
        } else if (!java.util.Arrays.equals(n.vector, vector)) {
          updatePoint(id, vector)
          true
        } else false
    }

  /** O11 bulk build (src/main.ts:288-317) with progress cadence: callback
    * every `progressInterval` inserts plus a final partial call. */
  def buildIndex(data: Iterator[(Long, Array[Float])],
      onProgress: (Long, Long) => Unit = null,
      progressInterval: Long = 10000L,
      total: Long = -1L): Unit = {
    nodes.clear()
    deleted.clear()
    levelMax = -1
    entryPointId = -1L
    dIn = -1
    var i = 0L
    data.foreach { case (id, vec) =>
      addPoint(id, vec)
      i += 1
      if (onProgress != null && i % progressInterval == 0) onProgress(i, total)
    }
    if (onProgress != null && i % progressInterval != 0) onProgress(i, i)
  }

  /** O12 k-NN query (src/main.ts:253-283): greedy descent to layer 1,
    * ef-bounded layer-0 search, dedupe, recompute scores, truncate at k.
    * A query whose dimension differs from the index's throws: the
    * similarity kernels would otherwise score only the common prefix. */
  def searchKNN(query: Array[Float], k: Int,
      efSearchOverride: Option[Int] = None): Array[(Long, Double)] = {
    if (entryPointId == -1L || nodes.isEmpty || k <= 0) return Array.empty
    if (query.length != d) throw new IllegalArgumentException(
      s"searchKNN: dimension mismatch, ${query.length} vs $d")
    var entry = nodes(entryPointId)
    val qNorm = qNormOf(query)
    var level = levelMax
    while (level > 0) {
      entry = greedySearch(query, qNorm, entry, level)
      level -= 1
    }
    // tombstones are filtered from results, so widen ef by the tombstone
    // count — the beam then still carries >= k live candidates. With no
    // deletions this is exactly max(k, efSearch): bit-identical behavior.
    val ef = math.max(k + deleted.size, efSearchOverride.getOrElse(efSearch))
    val candidates = searchLayerScored(query, qNorm, entry, 0, ef)._2
    val seen = mutable.LongMap.empty[Unit]
    val results = mutable.ArrayBuffer.empty[(Long, Double)]
    var i = 0
    while (i < candidates.length && results.length < k) {
      val n = candidates(i)
      if (!seen.contains(n.id) && !deleted.contains(n.id)) {
        seen(n.id) = ()
        results += ((n.id, simQN(query, qNorm, n)))
      }
      i += 1
    }
    results.toArray
  }

  /** O13 serialize: flatten to rows (the Spark-native analog of toJSON,
    * src/main.ts:322-344). Tombstoned nodes are dropped and edges
    * pointing at them stripped — a rebuilt index would otherwise crash
    * traversing a dangling neighbor id. This is where tombstones get
    * purged: every snapshot/save/compact cycle comes back clean. */
  def toRows: Iterator[HnswGraphRow] =
    nodes.valuesIterator.filter(n => !deleted.contains(n.id)).map { n =>
      val nbrs =
        if (deleted.isEmpty) n.neighbors
        else n.neighbors.map(_.filter(nb => !deleted.contains(nb)))
      HnswGraphRow(n.id, n.level, n.vector, nbrs)
    }
}

/** Row form of one graph node for DataFrame/parquet persistence. */
case class HnswGraphRow(id: Long, level: Int, vector: Array[Float],
    neighbors: Array[Array[Long]])

object HnswSerde {
  /** O14 deserialize from rows (src/main.ts:349-362): efSearch defaults to
    * efConstruction when absent (back-compat, src/main.ts:351). */
  def fromRows(rows: Iterator[HnswGraphRow], m: Int, efConstruction: Int,
      metric: Metric, efSearch: Option[Int], seed: Long,
      levelMax: Int, entryPointId: Long): HnswIndex = {
    val idx = new HnswIndex(m, efConstruction, -1, metric, efSearch, None, seed)
    var d = -1
    rows.foreach { r =>
      val n = new HnswNode(r.id, r.vector, r.level)
      n.neighbors = r.neighbors
      idx.nodes(r.id) = n
      d = r.vector.length
    }
    idx.levelMax = levelMax
    idx.entryPointId = entryPointId
    if (d != -1) idx.dIn = d
    idx
  }
}
