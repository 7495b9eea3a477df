package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Mixing, SequenceExport}

/** STREAMING corpus-to-trainer: the batch last mile
  * (mix → pack → export; BASELINE.md round 12, "The corpus-to-trainer
  * artifact at 10M") as a
  * checkpointed stream — documents arrive in micro-batches, each batch
  * is mixed under what REMAINS of the per-domain token budgets
  * ([[Mixing.mixBatch]] — the drain contract), the selection is packed
  * with a FROZEN tokenizer ([[Bpe.packSequencesFrozen]]: model + dict
  * are shipped artifacts, so every epoch's ids are trainer-comparable),
  * and shipped as an `epochs/epoch=<batchId>` sequence+audit unit.
  *
  * Epoch-handoff contract (the [[graft.operators.TextIndex]]
  * streamingAppendEpochs shape):
  *
  *  - An epoch is COMMITTED iff its `audit/` directory exists — the
  *    audit is written strictly after `sequences/`, so a kill between
  *    the two leaves a torn epoch that [[sequences]]/[[verifyAll]]
  *    never read.
  *  - Every write inside a batch is `Overwrite` into batchId-derived
  *    paths, and the mix's consumed scan excludes the batch's own
  *    epoch, so an at-least-once REPLAY recomputes the identical
  *    selection and overwrites the torn artifacts — kill+replay is
  *    bit-identical to a clean run (spec-pinned), provided `checkpoint`
  *    is durable.
  *  - Documents straddle sequence boundaries WITHIN an epoch exactly
  *    like the batch pack; the epoch boundary is a flush boundary (each
  *    epoch's last sequence may run short) — the price of incremental
  *    handoff, visible to the trainer in `n_tokens`.
  *
  * Scale: per batch, one ids-only mix sort (metadata-sized), one
  * semi-join to pull selected text, the pack's prefix sum (groups =
  * splits), and a shard-partitioned write. Nothing accumulates in the
  * driver; cross-epoch state is the O(epochs × domains) drain summary.
  */
object TrainerExportStream {

  /** One micro-batch: mix under remaining budgets → frozen-dict pack →
    * epoch export. Exposed for replay specs; production entry is
    * [[start]]. `batch` must carry (idCol, domainCol, textCol). */
  def exportBatch(batch: DataFrame, batchId: Long, path: String,
      domainCol: String, budgets: Map[String, Long], model: Bpe.BpeModel,
      dict: DataFrame, seqLen: Int, splitExpr: DataFrame => org.apache.spark.sql.Column,
      rowsPerShard: Int = 10000, unkId: Long = -2L,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val spark = batch.sparkSession
    Mixing.mixBatch(batch, batchId, s"$path/mix", domainCol,
      size(split(trim(col(textCol)), "\\s+")).cast("long"), budgets,
      idCol = idCol)
    val sel = spark.read.parquet(s"$path/mix/selected/epoch=$batchId")
    // a drained mixture selects nothing: ship NO epoch dir (a
    // partitioned write of an empty frame has no schema to read back);
    // the skip is replay-idempotent — the same empty selection skips
    // again — and the drain summary still records the batch
    if (!sel.isEmpty) {
      val docs = batch.join(sel.select(idCol), Seq(idCol), "left_semi")
      val packed = Bpe.packSequencesFrozen(docs, model, seqLen,
        splitExpr(docs), dict, unkId, idCol, textCol)
      // the PACK can be empty even when the selection is not (e.g.
      // every selected doc tokenizes to zero tokens): writing it would
      // ship a schema-less partitioned sequences/ dir UNDER a valid
      // audit commit marker, permanently breaking every stream read
      if (!packed.isEmpty) {
        // SequenceExport.write ships sequences/ first, audit/ last —
        // the audit doubles as this epoch's commit marker
        SequenceExport.write(packed, s"$path/epochs/epoch=$batchId",
          rowsPerShard)
      }
    }
  }

  /** Start the stream: `docs` is a streaming frame of (idCol,
    * domainCol, textCol) rows. `splitExpr` derives the split column
    * from the batch (a function so callers can reference batch
    * columns). Budgets drain across epochs; once spent, later batches
    * ship empty epochs. */
  def start(docs: DataFrame, path: String, checkpoint: String,
      domainCol: String, budgets: Map[String, Long], model: Bpe.BpeModel,
      dict: DataFrame, seqLen: Int,
      splitExpr: DataFrame => org.apache.spark.sql.Column,
      rowsPerShard: Int = 10000, unkId: Long = -2L,
      idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        exportBatch(batch, batchId, path, domainCol, budgets, model,
          dict, seqLen, splitExpr, rowsPerShard, unkId, idCol, textCol)
      }
      .start()

  /** Epoch directories with a commit marker (audit present), sorted
    * NUMERICALLY on the epoch id — a lexicographic path sort would put
    * epoch=10 before epoch=2, and a sequential consumer relying on the
    * documented order would replay epochs out of order. */
  private def committedEpochs(spark: SparkSession, path: String): Seq[String] = {
    val root = new Path(s"$path/epochs")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath)
      .filter(p => fs.exists(new Path(p, "audit")))
      .map(_.toString)
      .sortBy(p => p.substring(p.lastIndexOf("epoch=") + 6).toLong)
      .toSeq
  }

  /** Every shipped sequence across committed epochs (epoch column
    * included; torn epochs are invisible by the marker rule). */
  def sequences(spark: SparkSession, path: String): DataFrame = {
    val eps = committedEpochs(spark, path)
    require(eps.nonEmpty, s"no committed epochs under $path/epochs")
    eps.map { e =>
      spark.read.parquet(s"$e/sequences")
        .withColumn("epoch",
          lit(e.substring(e.lastIndexOf("epoch=") + 6).toLong))
    }.reduce(_ unionByName _)
  }

  /** Conservation audit across every committed epoch: the union of each
    * epoch's [[SequenceExport.verify]] mismatches — empty is the
    * stream-long transfer-integrity proof. */
  def verifyAll(spark: SparkSession, path: String): DataFrame = {
    val eps = committedEpochs(spark, path)
    require(eps.nonEmpty, s"no committed epochs under $path/epochs")
    eps.map { e =>
      SequenceExport.verify(spark, e)
        .withColumn("epoch",
          lit(e.substring(e.lastIndexOf("epoch=") + 6).toLong))
    }.reduce(_ unionByName _)
  }

  /** Per-epoch shipping stats + the mix's drain state — the stream's
    * observability row. */
  def describe(spark: SparkSession, path: String,
      budgets: Map[String, Long], domainCol: String = "source"): DataFrame = {
    val eps = committedEpochs(spark, path)
    val shipped =
      if (eps.isEmpty) 0L
      else sequences(spark, path).agg(sum("n_tokens")).first().getLong(0)
    Mixing.describe(spark, s"$path/mix", budgets, domainCol)
      .withColumn("epochs_committed", lit(eps.size.toLong))
      .withColumn("tokens_shipped", lit(shipped))
  }
}
