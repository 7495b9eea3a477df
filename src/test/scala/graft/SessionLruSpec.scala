package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Gates for the shared artifact memo ([[SessionLru]]) behind
  * ModelMemo/TextMemo — in particular the r15 eviction contract:
  * evicting a persisted DataFrame value must UNPERSIST it (ADVICE r14 —
  * dropping the map reference alone leaves the cached blocks alive in
  * the CacheManager for the context lifetime). */
class SessionLruSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("hit returns the cached instance without re-evaluating the maker") {
    val lru = new SessionLru(4)
    var builds = 0
    val a = lru.get(spark, "k") { builds += 1; new Object }
    val b = lru.get(spark, "k") { builds += 1; new Object }
    assert(builds == 1 && (a eq b))
  }

  test("eviction unpersists the evicted DataFrame value; retained " +
      "entries keep their cached blocks") {
    import spark.implicits._
    val lru = new SessionLru(2)
    val dfs = (1 to 3).map { i =>
      lru.get(spark, s"evict-test-$i") {
        val d = Seq(i).toDF("x").persist()
        d.count()
        d
      }
    }
    // capacity 2: inserting #3 evicts the eldest (#1); its blocks must
    // be released, the survivors' kept
    assert(dfs(0).storageLevel == StorageLevel.NONE,
      "evicted DataFrame must be unpersisted (orphaned cache blocks)")
    assert(dfs(1).storageLevel != StorageLevel.NONE)
    assert(dfs(2).storageLevel != StorageLevel.NONE)
    dfs.foreach(_.unpersist())
  }

  test("non-DataFrame values evict without error") {
    val lru = new SessionLru(1)
    lru.get(spark, "a")(new Object)
    lru.get(spark, "b")(new Object) // evicts "a" — must not throw
    assert(lru.get[AnyRef](spark, "b")(fail("must hit")) != null)
  }
}
