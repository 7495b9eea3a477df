package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.hnsw.{HnswIndexer, HnswParams}

class AnnSqlProbeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    graft.functions.similarity.register(s)
    AnnSqlProbe.install(s)
    s
  }

  val path = "/root/testdata/sf0.001/embeddings.parquet"

  /** HNSW-family probes (plain and IVF-HNSW) run eagerly while the rule
    * rewrites the plan: their `(query_id, neighbor_id, score, rank)` result
    * sits in the plan as a local relation where the parquet scan was. */
  private def hnswProbed(plan: String): Boolean =
    plan.contains("LocalTableScan [query_id") && !plan.contains("FileScan")

  private def annSql(k: Int): String = {
    val qvec = spark.read.parquet(path).filter(col("vec_id") === 3)
      .select("embedding").first().getSeq[Float](0)
    val arr = qvec.map(v => s"cast($v as float)").mkString("array(", ", ", ")")
    s"""SELECT vec_id, cosine_sim(embedding, $arr) AS score
       |FROM parquet.`$path`
       |ORDER BY score DESC LIMIT $k""".stripMargin
  }

  test("registered index rewrites ORDER BY sim DESC LIMIT k into a probe") {
    val model = HnswIndexer.fit(spark.read.parquet(path),
      HnswParams(m = 16, efConstruction = 200, numPartitions = 2))
    try {
      val sql = annSql(10)
      // before registration: exact plan = scan + top-k, no probe result
      val exactPlan = spark.sql(sql).queryExecution.executedPlan.toString
      assert(!hnswProbed(exactPlan))
      val exactRows = spark.sql(sql).collect()

      AnnSqlProbe.register(path, model)
      val probed = spark.sql(sql)
      val probedPlan = probed.queryExecution.executedPlan.toString
      assert(hnswProbed(probedPlan),
        s"the probe's top-k result should replace the scan:\n$probedPlan")
      val probedRows = probed.collect()
      assert(probedRows.length == 10)
      // schema preserved, sorted descending, self-match first with score ~ 1
      assert(probed.schema.fieldNames.toSeq == Seq("vec_id", "score"))
      val scores = probedRows.map(_.getDouble(1)).toSeq
      assert(scores == scores.sorted.reverse)
      assert(probedRows.head.getLong(0) == 3L && scores.head > 0.999)
      // at this scale the probe should agree with the exact top-10 set
      val recall = probedRows.map(_.getLong(0)).toSet
        .intersect(exactRows.map(_.getLong(0)).toSet).size
      assert(recall >= 8, s"probe recall@10 = $recall/10")
    } finally {
      AnnSqlProbe.unregister(path)
      model.unpersist()
    }
  }

  test("guards: mismatched metric or extra columns fall through to exact plan") {
    val model = HnswIndexer.fit(spark.read.parquet(path),
      HnswParams(m = 8, efConstruction = 100, numPartitions = 2, metric = "euclidean"))
    try {
      AnnSqlProbe.register(path, model)
      // cosine SQL over a euclidean index: no rewrite
      val p1 = spark.sql(annSql(5)).queryExecution.executedPlan.toString
      assert(!hnswProbed(p1))
      // extra projected column: no rewrite
      val qvec = "array(" + Seq.fill(64)("cast(0.1 as float)").mkString(", ") + ")"
      val p2 = spark.sql(
        s"""SELECT vec_id, label, euclidean_sim(embedding, $qvec) AS score
           |FROM parquet.`$path` ORDER BY score DESC LIMIT 5""".stripMargin)
        .queryExecution.executedPlan.toString
      assert(!hnswProbed(p2))
      // matching metric + supported shape: rewrite
      val p3 = spark.sql(
        s"""SELECT vec_id, euclidean_sim(embedding, $qvec) AS score
           |FROM parquet.`$path` ORDER BY score DESC LIMIT 5""".stripMargin)
        .queryExecution.executedPlan.toString
      assert(hnswProbed(p3), s"expected rewrite:\n$p3")
    } finally {
      AnnSqlProbe.unregister(path)
      model.unpersist()
    }
  }

  test("catalog table registration: FROM tbl rewrites like the path form") {
    spark.sql("DROP TABLE IF EXISTS emb_cat")
    spark.sql(s"CREATE TABLE emb_cat USING parquet LOCATION '$path'")
    val model = HnswIndexer.fit(spark.read.parquet(path), HnswParams(numPartitions = 2))
    try {
      AnnSqlProbe.registerTable(spark, "emb_cat", model)
      val qvec = spark.read.parquet(path).filter(col("vec_id") === 3)
        .select("embedding").first().getSeq[Float](0)
      val arr = qvec.map(v => s"cast($v as float)").mkString("array(", ", ", ")")
      val sql =
        s"""SELECT vec_id, cosine_sim(embedding, $arr) AS score
           |FROM emb_cat ORDER BY score DESC LIMIT 10""".stripMargin
      val probed = spark.sql(sql)
      assert(hnswProbed(probed.queryExecution.executedPlan.toString),
        "catalog-table scan should rewrite into the probe")
      val rows = probed.collect()
      assert(rows.length == 10 && rows.head.getLong(0) == 3L)
      AnnSqlProbe.unregisterTable(spark, "emb_cat")
      assert(!hnswProbed(spark.sql(sql).queryExecution.executedPlan.toString))
    } finally {
      spark.sql("DROP TABLE IF EXISTS emb_cat")
      model.unpersist()
    }
  }

  test("WHERE on the id column: probe-then-filter rewrite; other columns fall through") {
    val model = HnswIndexer.fit(spark.read.parquet(path),
      HnswParams(m = 16, efConstruction = 200, numPartitions = 2))
    try {
      AnnSqlProbe.register(path, model)
      val qvec = spark.read.parquet(path).filter(col("vec_id") === 3)
        .select("embedding").first().getSeq[Float](0)
      val arr = qvec.map(v => s"cast($v as float)").mkString("array(", ", ", ")")
      val sql =
        s"""SELECT vec_id, cosine_sim(embedding, $arr) AS score
           |FROM parquet.`$path` WHERE vec_id < 250
           |ORDER BY score DESC LIMIT 5""".stripMargin
      val probed = spark.sql(sql)
      val plan = probed.queryExecution.executedPlan.toString
      assert(plan.contains("Filter (rank"), s"expected probe rewrite:\n$plan")
      val rows = probed.collect()
      // k-result GUARANTEE: 250 rows match, so exactly 5 survivors —
      // every one satisfying the predicate, sorted, self-match first
      assert(rows.length == 5)
      assert(rows.forall(_.getLong(0) < 250))
      assert(rows.head.getLong(0) == 3L && rows.head.getDouble(1) > 0.999)
      val scores = rows.map(_.getDouble(1)).toSeq
      assert(scores == scores.sorted.reverse)
      // guarantee under a SELECTIVE predicate: only 3 rows match but k=10
      // — the old fixed overfetch silently under-returned here; now the
      // exact-fallback branch returns ALL matches, identical to the exact
      // (unregistered) plan
      val selSql =
        s"""SELECT vec_id, cosine_sim(embedding, $arr) AS score
           |FROM parquet.`$path` WHERE vec_id < 3
           |ORDER BY score DESC LIMIT 10""".stripMargin
      val selRows = spark.sql(selSql).collect()
      assert(selRows.length == 3, s"guarantee: got ${selRows.length} of 3 matches")
      assert(selRows.map(_.getLong(0)).toSet == Set(0L, 1L, 2L))
      AnnSqlProbe.unregister(path)
      val exactSel = spark.sql(selSql).collect()
      assert(selRows.map(_.getLong(0)).toSeq == exactSel.map(_.getLong(0)).toSeq)
      AnnSqlProbe.register(path, model)
      // a METADATA predicate (non-id column) also rewrites, with the same
      // guarantee: k survivors, every one actually satisfying label = 1
      val metaSql =
        s"""SELECT vec_id, cosine_sim(embedding, $arr) AS score
           |FROM parquet.`$path` WHERE label = 1
           |ORDER BY score DESC LIMIT 5""".stripMargin
      val metaProbed = spark.sql(metaSql)
      assert(metaProbed.queryExecution.executedPlan.toString.contains("Filter (rank"),
        "metadata predicate should rewrite through FilteredAnn")
      val metaRows = metaProbed.collect()
      val label1 = spark.read.parquet(path).filter(col("label") === 1)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(metaRows.length == math.min(5, label1.size))
      assert(metaRows.forall(r => label1(r.getLong(0))))
      // a predicate over the VECTOR column must fall through to the exact plan
      val p2 = spark.sql(
        s"""SELECT vec_id, cosine_sim(embedding, $arr) AS score
           |FROM parquet.`$path` WHERE size(embedding) = 64
           |ORDER BY score DESC LIMIT 5""".stripMargin)
        .queryExecution.executedPlan.toString
      assert(!p2.contains("Filter (rank"),
        s"vector-column predicate must not rewrite:\n$p2")
    } finally {
      AnnSqlProbe.unregister(path)
      model.unpersist()
    }
  }

  test("hybrid IVF-HNSW registration routes SQL top-k through the cell-routed probe") {
    import graft.hnsw.IvfHnsw
    val model = IvfHnsw.fit(spark.read.parquet(path), numCells = 4,
      HnswParams(m = 16, efConstruction = 200))
    try {
      val sql = annSql(10)
      val exactRows = spark.sql(sql).collect()
      AnnSqlProbe.register(path, model, nprobe = 2)
      val probed = spark.sql(sql)
      val plan = probed.queryExecution.executedPlan.toString
      assert(hnswProbed(plan),
        s"hybrid probe should replace the scan + top-k:\n$plan")
      val probedRows = probed.collect()
      assert(probedRows.length == 10)
      assert(probed.schema.fieldNames.toSeq == Seq("vec_id", "score"))
      // self-match first; nprobe=2 of 4 cells keeps strong top-k agreement
      assert(probedRows.head.getLong(0) == 3L)
      val recall = probedRows.map(_.getLong(0)).toSet
        .intersect(exactRows.map(_.getLong(0)).toSet).size
      assert(recall >= 7, s"hybrid probe recall@10 = $recall/10")
    } finally {
      AnnSqlProbe.unregister(path)
      model.unpersist()
    }
  }

  test("IVF-PQ registration routes euclidean SQL top-k through the code scan") {
    import graft.operators.IvfPq
    val base = spark.read.parquet(path)
    val model = IvfPq.fit(base, numCells = 4, numSub = 8, codesPerSub = 16,
      opqIters = 2, packed = true)
    try {
      val qvec = base.filter(col("vec_id") === 3)
        .select("embedding").first().getSeq[Float](0)
      val arr = qvec.map(v => s"cast($v as float)").mkString("array(", ", ", ")")
      val sql =
        s"""SELECT vec_id, euclidean_sim(embedding, $arr) AS score
           |FROM parquet.`$path` ORDER BY score DESC LIMIT 10""".stripMargin
      val exactRows = spark.sql(sql).collect()
      AnnSqlProbe.register(path, model, base, nprobe = 3, rerank = 50)
      val probed = spark.sql(sql)
      val plan = probed.queryExecution.executedPlan.toString
      assert(plan.contains("Filter (rank"),
        s"IVF-PQ probe should replace the scan + top-k:\n$plan")
      val probedRows = probed.collect()
      assert(probedRows.length == 10)
      assert(probed.schema.fieldNames.toSeq == Seq("vec_id", "score"))
      // self-match survives the code scan; rerank restores exact scores
      assert(probedRows.head.getLong(0) == 3L && probedRows.head.getDouble(1) > 0.999)
      val recall = probedRows.map(_.getLong(0)).toSet
        .intersect(exactRows.map(_.getLong(0)).toSet).size
      assert(recall >= 6, s"ivfpq probe recall@10 = $recall/10")
      // a cosine query over the euclidean-only index falls through
      val p2 = spark.sql(annSql(5)).queryExecution.executedPlan.toString
      assert(!p2.contains("Filter (rank"), "cosine over IVF-PQ must not rewrite")
    } finally {
      AnnSqlProbe.unregister(path)
      model.encoded.unpersist()
    }
  }

  test("IVF-BQ registration routes cosine SQL top-k through the sign-code scan") {
    import graft.operators.IvfBq
    val base = spark.read.parquet(path)
    val model = IvfBq.fit(base, numCells = 4)
    try {
      val sql = annSql(10)
      val exactRows = spark.sql(sql).collect()
      // fixed rerank first
      AnnSqlProbe.register(path, model, base, nprobe = 3, rerank = 50)
      val probed = spark.sql(sql)
      val plan = probed.queryExecution.executedPlan.toString
      assert(plan.contains("Filter (rank"),
        s"IVF-BQ probe should replace the scan + top-k:\n$plan")
      val probedRows = probed.collect()
      assert(probedRows.length == 10)
      assert(probed.schema.fieldNames.toSeq == Seq("vec_id", "score"))
      assert(probedRows.head.getLong(0) == 3L && probedRows.head.getDouble(1) > 0.999)
      val recall = probedRows.map(_.getLong(0)).toSet
        .intersect(exactRows.map(_.getLong(0)).toSet).size
      assert(recall >= 6, s"ivfbq probe recall@10 = $recall/10")
      // adaptive rerank: rerankFrac=1 over all cells degenerates to exact
      AnnSqlProbe.register(path, model, base, nprobe = 4, rerank = 10,
        rerankFrac = 1.0)
      val adaptRows = spark.sql(sql).collect()
      assert(adaptRows.map(_.getLong(0)).toSeq ==
        exactRows.map(_.getLong(0)).toSeq,
        "full-probe full-rerank adaptive must reproduce the exact top-k")
      // euclidean SQL over the cosine-reranked index falls through
      val qvec = "array(" + Seq.fill(64)("cast(0.1 as float)").mkString(", ") + ")"
      val p2 = spark.sql(
        s"""SELECT vec_id, euclidean_sim(embedding, $qvec) AS score
           |FROM parquet.`$path` ORDER BY score DESC LIMIT 5""".stripMargin)
        .queryExecution.executedPlan.toString
      assert(!p2.contains("Filter (rank"), "euclidean over IVF-BQ must not rewrite")
    } finally {
      AnnSqlProbe.unregister(path)
      model.encoded.unpersist()
    }
  }

  test("MRL registration routes cosine SQL top-k through the prefix scan") {
    val base = spark.read.parquet(path)
    try {
      val sql = annSql(10)
      val exactRows = spark.sql(sql).collect()
      AnnSqlProbe.registerMrl(path, base, prefixDims = 16, rerank = 50)
      val probed = spark.sql(sql)
      val plan = probed.queryExecution.executedPlan.toString
      assert(plan.contains("Filter (rank"),
        s"MRL probe should replace the scan + top-k:\n$plan")
      val probedRows = probed.collect()
      assert(probedRows.length == 10)
      assert(probed.schema.fieldNames.toSeq == Seq("vec_id", "score"))
      assert(probedRows.head.getLong(0) == 3L && probedRows.head.getDouble(1) > 0.999)
      val recall = probedRows.map(_.getLong(0)).toSet
        .intersect(exactRows.map(_.getLong(0)).toSet).size
      assert(recall >= 6, s"mrl probe recall@10 = $recall/10")
      // rerank spanning the corpus degenerates to the exact top-k
      AnnSqlProbe.registerMrl(path, base, prefixDims = 16, rerank = 10000)
      assert(spark.sql(sql).collect().map(_.getLong(0)).toSeq ==
        exactRows.map(_.getLong(0)).toSeq,
        "corpus-wide rerank must reproduce the exact top-k")
      // euclidean SQL over the cosine prefix index falls through
      val qvec = "array(" + Seq.fill(64)("cast(0.1 as float)").mkString(", ") + ")"
      val p2 = spark.sql(
        s"""SELECT vec_id, euclidean_sim(embedding, $qvec) AS score
           |FROM parquet.`$path` ORDER BY score DESC LIMIT 5""".stripMargin)
        .queryExecution.executedPlan.toString
      assert(!p2.contains("Filter (rank"), "euclidean over MRL must not rewrite")
    } finally AnnSqlProbe.unregister(path)
  }

  test("PCA registration routes cosine SQL top-k through the projected scan") {
    import graft.operators.Pca
    val base = spark.read.parquet(path)
    val model = Pca.fit(base, p = 16)
    try {
      val sql = annSql(10)
      val exactRows = spark.sql(sql).collect()
      AnnSqlProbe.register(path, model, base, rerank = 50)
      val probed = spark.sql(sql)
      val plan = probed.queryExecution.executedPlan.toString
      assert(plan.contains("Filter (rank"),
        s"PCA probe should replace the scan + top-k:\n$plan")
      val probedRows = probed.collect()
      assert(probedRows.length == 10)
      assert(probed.schema.fieldNames.toSeq == Seq("vec_id", "score"))
      assert(probedRows.head.getLong(0) == 3L && probedRows.head.getDouble(1) > 0.999)
      val recall = probedRows.map(_.getLong(0)).toSet
        .intersect(exactRows.map(_.getLong(0)).toSet).size
      assert(recall >= 6, s"pca probe recall@10 = $recall/10")
    } finally {
      AnnSqlProbe.unregister(path)
      model.projected.unpersist()
    }
  }

  test("RaBitQ registration routes cosine SQL top-k through the u4 estimator scan") {
    import graft.operators.RabitQ
    val base = spark.read.parquet(path)
    val model = RabitQ.fit(base)
    try {
      val sql = annSql(10)
      val exactRows = spark.sql(sql).collect()
      AnnSqlProbe.register(path, model, base, rerank = 100)
      val probed = spark.sql(sql)
      val plan = probed.queryExecution.executedPlan.toString
      assert(plan.contains("Filter (rank"),
        s"RaBitQ probe should replace the scan + top-k:\n$plan")
      val probedRows = probed.collect()
      assert(probedRows.length == 10)
      assert(probed.schema.fieldNames.toSeq == Seq("vec_id", "score"))
      assert(probedRows.head.getLong(0) == 3L && probedRows.head.getDouble(1) > 0.999)
      val recall = probedRows.map(_.getLong(0)).toSet
        .intersect(exactRows.map(_.getLong(0)).toSet).size
      assert(recall >= 8, s"rabitq probe recall@10 = $recall/10")
    } finally {
      AnnSqlProbe.unregister(path)
      model.encoded.unpersist()
    }
  }

  test("IVF-RaBitQ registration routes cosine SQL top-k through the residual-code scan") {
    import graft.operators.IvfRabitq
    val base = spark.read.parquet(path)
    val model = IvfRabitq.fit(base, numCells = 4)
    try {
      val sql = annSql(10)
      val exactRows = spark.sql(sql).collect()
      AnnSqlProbe.register(path, model, base, nprobe = 4, rerank = 100)
      val probed = spark.sql(sql)
      val plan = probed.queryExecution.executedPlan.toString
      assert(plan.contains("Filter (rank"),
        s"IVF-RaBitQ probe should replace the scan + top-k:\n$plan")
      val probedRows = probed.collect()
      assert(probedRows.length == 10)
      assert(probed.schema.fieldNames.toSeq == Seq("vec_id", "score"))
      assert(probedRows.head.getLong(0) == 3L && probedRows.head.getDouble(1) > 0.999)
      // all cells probed + rerank 100 on a 1k corpus: near-exact expected
      val recall = probedRows.map(_.getLong(0)).toSet
        .intersect(exactRows.map(_.getLong(0)).toSet).size
      assert(recall >= 8, s"ivfrabitq probe recall@10 = $recall/10")
      // euclidean SQL over the cosine index falls through
      val qvec = "array(" + Seq.fill(64)("cast(0.1 as float)").mkString(", ") + ")"
      val p2 = spark.sql(
        s"""SELECT vec_id, euclidean_sim(embedding, $qvec) AS score
           |FROM parquet.`$path` ORDER BY score DESC LIMIT 5""".stripMargin)
        .queryExecution.executedPlan.toString
      assert(!p2.contains("Filter (rank"), "euclidean over IVF-RaBitQ must not rewrite")
    } finally {
      AnnSqlProbe.unregister(path)
      model.encoded.unpersist()
    }
  }

  test("WHERE-form filtered probes serve through BOTH round-10 refs " +
      "(RaBitQ, IVF-RaBitQ) with the min(k, matches) guarantee") {
    // the FilteredAnn dispatch at AnnSqlProbe is generic over every
    // registered family, but until now no spec exercised it through the
    // RaBitQ refs (VERDICT r10 #5)
    import graft.operators.{IvfRabitq, RabitQ}
    val base = spark.read.parquet(path)
    val qvec = base.filter(col("vec_id") === 3)
      .select("embedding").first().getSeq[Float](0)
    val arr = qvec.map(v => s"cast($v as float)").mkString("array(", ", ", ")")
    def filteredSql(pred: String, k: Int) =
      s"""SELECT vec_id, cosine_sim(embedding, $arr) AS score
         |FROM parquet.`$path` WHERE $pred
         |ORDER BY score DESC LIMIT $k""".stripMargin
    def check(tag: String): Unit = {
      // broad predicate: rewrite fires, k survivors, all satisfying it
      val probed = spark.sql(filteredSql("vec_id < 250", 5))
      val plan = probed.queryExecution.executedPlan.toString
      assert(plan.contains("Filter (rank"),
        s"$tag: filtered probe should rewrite:\n$plan")
      val rows = probed.collect()
      assert(rows.length == 5, s"$tag: ${rows.length} of 5")
      assert(rows.forall(_.getLong(0) < 250))
      assert(rows.head.getLong(0) == 3L && rows.head.getDouble(1) > 0.999)
      val scores = rows.map(_.getDouble(1)).toSeq
      assert(scores == scores.sorted.reverse)
      // selective predicate: only 3 matches but k=10 — the guarantee
      // must return ALL matches via the exact-fallback escalation
      val sel = spark.sql(filteredSql("vec_id < 3", 10)).collect()
      assert(sel.length == 3, s"$tag guarantee: got ${sel.length} of 3")
      assert(sel.map(_.getLong(0)).toSet == Set(0L, 1L, 2L))
    }
    val m1 = RabitQ.fit(base)
    try {
      AnnSqlProbe.register(path, m1, base, rerank = 100)
      check("rabitq")
    } finally { AnnSqlProbe.unregister(path); m1.encoded.unpersist() }
    val m2 = IvfRabitq.fit(base, numCells = 4)
    try {
      AnnSqlProbe.register(path, m2, base, nprobe = 4, rerank = 100)
      check("ivfrabitq")
    } finally { AnnSqlProbe.unregister(path); m2.encoded.unpersist() }
  }

  test("unregistering restores the exact plan") {
    val model = HnswIndexer.fit(spark.read.parquet(path), HnswParams(numPartitions = 2))
    AnnSqlProbe.register(path, model)
    assert(hnswProbed(spark.sql(annSql(5)).queryExecution.executedPlan.toString))
    AnnSqlProbe.unregister(path)
    assert(!hnswProbed(spark.sql(annSql(5)).queryExecution.executedPlan.toString))
    model.unpersist()
  }
}
