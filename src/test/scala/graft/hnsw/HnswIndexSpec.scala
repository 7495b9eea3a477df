package graft.hnsw

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** Mirrors the reference Jest suite (tests/HNSW.test.ts) plus invariant
  * properties the reference lacks (SURVEY §5). */
class HnswIndexSpec extends AnyFunSuite {

  /** Canonical fixture: 5 sequential 5-d vectors (tests/HNSW.test.ts:6-12). */
  def fixture: Seq[(Long, Array[Float])] = (1 to 5).map { id =>
    (id.toLong, Array.tabulate(5)(j => (j + id).toFloat))
  }

  /** Sampler pinned to a fixed level sequence keyed by insert order
    * (the reference mocks selectLevel the same way, tests/HNSW.test.ts:32-34). */
  class SeqSampler(levels: Seq[Int]) extends LevelSampler {
    val it: Iterator[Int] = levels.iterator
    def level(id: Long): Int = if (it.hasNext) it.next() else 0
  }

  def build(data: Seq[(Long, Array[Float])], m: Int = 16, efC: Int = 200,
      metric: Metric = Metric.Cosine, levels: Seq[Int] = Nil,
      efSearch: Option[Int] = None): HnswIndex = {
    val sampler = if (levels.nonEmpty) Some(new SeqSampler(levels)) else None
    val idx = new HnswIndex(m, efC, -1, metric, efSearch, sampler)
    idx.buildIndex(data.iterator)
    idx
  }

  test("knn returns known neighbors with score≈1 for an indexed vector (HNSW.test.ts:41-47)") {
    val idx = build(fixture, levels = Seq(0, 0, 0, 0, 0))
    val res = idx.searchKNN(Array(3f, 4f, 5f, 6f, 7f), 3)
    assert(res.map(_._1).toSeq == Seq(3L, 4L, 2L))
    assert(math.abs(res(0)._2 - 1.0) < 1e-9)
  }

  test("entry point promotion follows level sequence (HNSW.test.ts:63-67)") {
    val idx = build(fixture, levels = Seq(0, 3, 1, 0, 2))
    assert(idx.entryPointId == 2L)
    assert(idx.levelMax == 3)
  }

  test("k > index size returns all nodes (HNSW.test.ts:134-138)") {
    val idx = build(fixture, levels = Seq(0, 0, 0, 0, 0))
    val res = idx.searchKNN(Array(6f, 7f, 8f, 9f, 10f), 10)
    assert(res.length == 5)
  }

  test("k <= 0 and empty index return empty") {
    val idx = build(fixture)
    assert(idx.searchKNN(Array(1f, 2f, 3f, 4f, 5f), 0).isEmpty)
    val empty = new HnswIndex()
    assert(empty.searchKNN(Array(1f), 3).isEmpty)
  }

  test("dimension mismatch throws (HNSW.test.ts:128-132)") {
    val idx = new HnswIndex()
    idx.addPoint(1L, Array(1f, 2f, 3f))
    val e = intercept[IllegalArgumentException](idx.addPoint(2L, Array(1f, 2f)))
    assert(e.getMessage.contains("same dimension"))
  }

  test("a query of the wrong dimension throws instead of scoring a prefix") {
    val idx = build(fixture, levels = Seq(0, 0, 0, 0, 0))
    for (q <- Seq(Array(3f, 4f), Array.fill(7)(1f))) {
      val e = intercept[IllegalArgumentException](idx.searchKNN(q, 3))
      assert(e.getMessage == s"searchKNN: dimension mismatch, ${q.length} vs 5")
    }
    assert(idx.searchKNN(Array(3f, 4f, 5f, 6f, 7f), 3).length == 3)
    // an empty index has no dimension to hold a query to
    assert(new HnswIndex().searchKNN(Array(1f, 2f), 3).isEmpty)
  }

  test("duplicate id throws (src/main.ts:240-242)") {
    val idx = new HnswIndex()
    idx.addPoint(1L, Array(1f, 2f))
    intercept[IllegalArgumentException](idx.addPoint(1L, Array(3f, 4f)))
  }

  test("degree bound + expected neighbors on collinear data (HNSW.test.ts:81-103)") {
    val data = Seq(
      (1L, Array(0f, 0f)), (2L, Array(0f, 1f)),
      (3L, Array(0f, 2f)), (4L, Array(0f, 3f)))
    val idx = build(data, m = 2, efC = 16, metric = Metric.Euclidean,
      levels = Seq(0, 0, 0, 0))
    val n4 = idx.nodes(4L).neighborsAt(0).toSet
    assert(n4 == Set(3L), s"node4 neighbors $n4")
    val n2 = idx.nodes(2L).neighborsAt(0).toSet
    assert(n2.subsetOf(Set(1L, 3L)) && n2.nonEmpty && n2.size <= 2)
  }

  test("progress callback cadence (HNSW.test.ts:140-146)") {
    val calls = mutable.ArrayBuffer.empty[(Long, Long)]
    val idx = new HnswIndex()
    idx.buildIndex(fixture.iterator, onProgress = (c, t) => calls += ((c, t)),
      progressInterval = 3, total = 5)
    assert(calls.toSeq == Seq((3L, 5L), (5L, 5L)))
  }

  test("efSearch defaults to efConstruction; per-query override accepted (HNSW.test.ts:69-79)") {
    val idx = new HnswIndex(16, 77)
    assert(idx.efSearch == 77)
    idx.buildIndex(fixture.iterator)
    val res = idx.searchKNN(Array(3f, 4f, 5f, 6f, 7f), 2, Some(50))
    assert(res.length == 2)
  }

  test("serialization round-trip preserves search results (HNSW.test.ts:117-126)") {
    val idx = build(fixture, levels = Seq(0, 1, 0, 2, 0))
    val q = Array(3f, 4f, 5f, 6f, 7f)
    val before = idx.searchKNN(q, 3).toSeq
    val restored = HnswSerde.fromRows(idx.toRows, idx.M, idx.efConstruction,
      idx.metric, Some(idx.efSearch), idx.seed, idx.levelMax, idx.entryPointId)
    val after = restored.searchKNN(q, 3).toSeq
    assert(before == after)
  }

  test("euclidean similarity is 1/(1+L2), not a distance (src/similarity.ts:22-24)") {
    val s = Metric.Euclidean.sim(Array(0f, 0f), Array(3f, 4f))
    assert(math.abs(s - 1.0 / 6.0) < 1e-12)
    assert(Metric.Euclidean.sim(Array(1f, 1f), Array(1f, 1f)) == 1.0)
  }

  test("invalid metric throws (src/main.ts:42-44)") {
    intercept[IllegalArgumentException](Metric("manhattan"))
  }

  test("graph structural invariants on seeded random data (SURVEY §5)") {
    // NOTE the reference graph is NOT strictly symmetric: when the
    // diversity heuristic rejects the new link on one side only
    // (src/main.ts:154-169 never force-inserts), a one-way edge remains;
    // removeReciprocalLinks only cleans up *displaced* neighbors. So the
    // invariants are: degree ≤ M, no dups, no self-loops, edges resolve,
    // and asymmetry stays a small minority of edges.
    val rnd = new scala.util.Random(7)
    val data = (0 until 300).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val idx = build(data, m = 8, efC = 64)
    var edges = 0; var asym = 0
    idx.nodes.foreach { case (id, node) =>
      node.neighbors.zipWithIndex.foreach { case (nbrs, level) =>
        assert(nbrs.length <= idx.M, s"degree>${idx.M} at node $id level $level")
        assert(nbrs.distinct.length == nbrs.length, s"dup neighbor at $id")
        assert(!nbrs.contains(id), s"self-loop at $id")
        nbrs.foreach { nid =>
          assert(idx.nodes.contains(nid), s"dangling edge $id->$nid")
          edges += 1
          if (!idx.nodes(nid).neighborsAt(level).contains(id)) asym += 1
        }
      }
    }
    assert(edges > 0)
    assert(asym.toDouble / edges < 0.5, s"asymmetric edges $asym/$edges")
  }

  test("recall@10 >= 0.9 on 500 seeded vectors vs brute force (bench/README.md:108 oracle)") {
    val rnd = new scala.util.Random(42)
    val data = (0 until 500).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val idx = build(data, m = 16, efC = 200)
    val queries = data.take(50)
    var hits = 0; var total = 0
    queries.foreach { case (_, q) =>
      val approx = idx.searchKNN(q, 10, Some(100)).map(_._1).toSet
      val exact = data.map { case (id, v) => (id, Metric.Cosine.sim(q, v)) }
        .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
      hits += approx.intersect(exact).size
      total += exact.size
    }
    val recall = hits.toDouble / total
    assert(recall >= 0.9, s"recall@10 = $recall")
  }

  test("level sampler matches reference distribution shape (src/main.ts:47-57)") {
    val probs = HnswIndex.levelProbs(16)
    assert(math.abs(probs.sum - 1.0) < 1e-6)
    assert(probs(0) > 0.9 && probs(0) < 0.99) // 1 - e^(-ln16) = 0.9375
    val sampler = new SeededLevelSampler(probs, 42L)
    val counts = mutable.Map.empty[Int, Int].withDefaultValue(0)
    (0L until 10000L).foreach(id => counts(sampler.level(id)) += 1)
    assert(counts(0) > 9000 && counts(0) < 9700)
    // deterministic: same id → same level
    assert((0L until 100L).forall(id => sampler.level(id) == sampler.level(id)))
  }

  test("removePoint soft-deletes: excluded from results/size/toRows, " +
      "still routes traversal, k live results survive") {
    val rnd = new scala.util.Random(11)
    val data = (0 until 200).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val idx = build(data, m = 8, efC = 64)
    val victims = (0L until 40L).toSet
    victims.foreach(id => assert(idx.removePoint(id)))
    assert(!idx.removePoint(0L), "second remove is a no-op")
    assert(!idx.removePoint(9999L), "unknown id is a no-op")
    assert(idx.size == 160 && idx.deletedCount == 40)
    // full-k searches return k LIVE results, never a deleted id
    data.take(20).foreach { case (_, q) =>
      val res = idx.searchKNN(q, 20, Some(100))
      assert(res.length == 20, s"expected 20 live results, got ${res.length}")
      assert(res.forall { case (id, _) => !victims.contains(id) })
    }
    // recall vs brute force over the LIVE set stays high — deleted nodes
    // keep routing (edges intact), they just can't be results
    val live = data.filter { case (id, _) => !victims.contains(id) }
    var hits = 0; var total = 0
    data.take(30).foreach { case (_, q) =>
      val approx = idx.searchKNN(q, 10, Some(100)).map(_._1).toSet
      val exact = live.map { case (id, v) => (id, Metric.Cosine.sim(q, v)) }
        .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
      hits += approx.intersect(exact).size; total += exact.size
    }
    assert(hits.toDouble / total >= 0.9, s"post-delete recall ${hits.toDouble / total}")
    // serialization drops tombstones AND strips dangling edges, so a
    // rebuilt index searches cleanly and never surfaces a deleted id
    val rows = idx.toRows.toArray
    assert(rows.length == 160)
    assert(rows.forall(r => r.neighbors.flatten.forall(nb => !victims.contains(nb))))
    val back = HnswSerde.fromRows(rows.iterator, 8, 64, Metric.Cosine,
      Some(64), 42L,
      rows.map(_.level).max,
      rows.filter(_.level == rows.map(_.level).max).map(_.id).min)
    data.take(10).foreach { case (_, q) =>
      val res = back.searchKNN(q, 10, Some(100))
      assert(res.nonEmpty && res.forall { case (id, _) => !victims.contains(id) })
    }
  }

  test("updatePoint re-links in place: new location found, old location " +
      "forgotten, level/id stable, entry-point update works") {
    // two tight clusters around (1,0,...) and (0,1,...); move a vector
    // from cluster A to cluster B and the index must serve it there
    val rnd = new scala.util.Random(5)
    def near(base: Int, d: Int) =
      Array.tabulate(8)(j => (if (j == d) 1f else 0f) + rnd.nextFloat() * 0.05f)
    val a = (0 until 100).map(i => (i.toLong, near(i, 0)))
    val b = (100 until 200).map(i => (i.toLong, near(i, 1)))
    val idx = build(a ++ b, m = 8, efC = 64)
    val moved = near(0, 1) // id 7 relocates into cluster B
    idx.updatePoint(7L, moved)
    assert(idx.nodes(7L).level == new SeededLevelSampler(
      HnswIndex.levelProbs(8), 42L).level(7L), "level is a function of id")
    val atNew = idx.searchKNN(moved, 5, Some(100))
    assert(atNew.head._1 == 7L && math.abs(atNew.head._2 - 1.0) < 1e-9,
      s"updated vector must be its own nearest neighbor, got ${atNew.toSeq}")
    val atOld = idx.searchKNN(a.head._2, 50, Some(100)).map(_._1).take(40)
    assert(!atOld.contains(7L),
      "the old location must not rank the moved id among cluster A")
    // updating the ENTRY node exercises the alternate-entry descent
    val entry = idx.entryPointId
    idx.updatePoint(entry, near(0, 1))
    val res = idx.searchKNN(near(1, 1), 10, Some(100))
    assert(res.nonEmpty, "search still works after entry-node update")
    // dimension guard holds for updates too
    intercept[IllegalArgumentException](idx.updatePoint(7L, Array(1f)))
    intercept[IllegalArgumentException](idx.updatePoint(9999L, near(0, 0)))
  }

  test("upsertPoint: insert, no-op on identical, update on change, revive " +
      "after remove; recall floor under 20% churn") {
    val rnd = new scala.util.Random(13)
    val data = (0 until 300).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val idx = new HnswIndex(8, 64, -1, Metric.Cosine, Some(64), None, 42L)
    data.foreach { case (id, v) => assert(idx.upsertPoint(id, v)) }
    assert(idx.size == 300)
    assert(!idx.upsertPoint(5L, data(5)._2), "identical vector is a no-op")
    // remove then upsert the same id: revived with the new vector
    assert(idx.removePoint(5L))
    assert(idx.size == 299)
    val revived = Array.fill(8)(rnd.nextFloat() * 2 - 1)
    assert(idx.upsertPoint(5L, revived))
    assert(idx.size == 300 && !idx.isDeleted(5L))
    assert(idx.searchKNN(revived, 1, Some(100)).head._1 == 5L)
    // churn 20% of ids to fresh vectors; recall vs brute force over the
    // FINAL corpus stays high (the update path must not shred the graph)
    val updated = (0 until 60).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    updated.foreach { case (id, v) => assert(idx.upsertPoint(id, v)) }
    val finalCorpus = (updated ++ data.drop(60)).sortBy(_._1)
    var hits = 0; var total = 0
    finalCorpus.take(40).foreach { case (_, q) =>
      val approx = idx.searchKNN(q, 10, Some(100)).map(_._1).toSet
      val exact = finalCorpus.map { case (id, v) => (id, Metric.Cosine.sim(q, v)) }
        .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
      hits += approx.intersect(exact).size; total += exact.size
    }
    assert(hits.toDouble / total >= 0.9,
      s"post-churn recall ${hits.toDouble / total}")
  }

  test("diversity heuristic picks spread-out neighbors (HNSW.test.ts:105-115)") {
    // base (0,0); candidates (1,0),(2,0),(0,2); euclidean; M=2 ⇒ [2,4]:
    // candidate 3 at (2,0) is closer to kept neighbor 2 at (1,0) than to base
    val data = Seq((1L, Array(0f, 0f)), (2L, Array(1f, 0f)),
      (3L, Array(2f, 0f)), (4L, Array(0f, 2f)))
    val idx = build(data, m = 2, efC = 16, metric = Metric.Euclidean,
      levels = Seq(0, 0, 0, 0))
    val n1 = idx.nodes(1L).neighborsAt(0).toSet
    assert(n1 == Set(2L, 4L), s"node1 neighbors $n1")
  }
}
