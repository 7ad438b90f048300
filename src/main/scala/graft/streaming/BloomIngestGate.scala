package graft.streaming

import graft.operators.BloomDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming Bloom-dedup ingestion gate — the CONSTANT-memory member of
  * the streaming dedup family (Dolma's production shape, Soldaini 2024
  * §4): arrivals are probed against a persisted
  * [[graft.operators.BloomDedup]] filter, definite-new documents land
  * and are absorbed back into the filter, possibly-seen documents are
  * dropped with a receipt. Where [[IngestGate]] re-reads the landing
  * zone per batch (state grows with the corpus) and
  * [[VectorIngestGate]] probes a bucketed index (state is the index),
  * this gate's whole state is m/8 bytes — filter size is chosen ONCE
  * for the expected corpus and never grows, the right trade when the
  * stream is high-volume and a stated false-positive rate (over-drop)
  * is acceptable.
  *
  * Within one micro-batch, copies of the same text collapse to the
  * lowest-doc_id representative (the [[IngestGate]] discipline — the
  * filter can't be probed mid-batch for keys the same batch inserts);
  * copies get `dup_of` receipts pointing at their representative.
  *
  * Replay discipline (exactly-once, the [[QualityGate]]/
  * [[VectorIngestGate]] convergence): landing and receipts are
  * batch_id-partitioned and written with dynamic partition overwrite.
  * Because absorbing a batch makes its own replay flag `bloom_dup` —
  * and the filter stores no ids, so a self-match is indistinguishable
  * from a genuine duplicate — the verdict is reconciled against the
  * batch's OWN landing partition: a doc_id already landed by a previous
  * attempt of THIS batch stays admitted (`bloom_dup` keeps the observed
  * true as the honest replay marker). Write order is landing → absorb →
  * receipts, which converges every crash window: before landing nothing
  * persisted (filter untouched — absorb runs after); after landing the
  * replay reconciles to identical verdicts, rewrites the identical
  * partition, and re-absorbs (Bloom OR is idempotent). */
object BloomIngestGate {

  /** Gate one batch (doc_id, text) against a filter: one row per
    * arrival — (doc_id, text, bloom_dup, dup_of, admitted). `dup_of` is
    * set only for within-batch copies; `admitted` = representative AND
    * definite-new. Pure (no reconciliation, no writes) — exposed for
    * direct batch use and for the spec.
    *
    * `dup_of` contract (ADVICE r11): it names the WITHIN-BATCH
    * representative (the batch's min doc_id for that text) — a receipt
    * pointer into the batch's arrival set, NOT into the landing zone.
    * The representative itself may be dropped as a cross-batch Bloom
    * duplicate (its own `admitted` = false), in which case resolving
    * `dup_of` against the landing zone finds nothing; the duplicate's
    * canonical landed copy is in some EARLIER batch, which the filter —
    * which stores bits, not ids — cannot name. Consumers wanting a
    * landed pointer must join `dup_of` → that doc's receipt row and
    * follow `admitted` (spec-pinned in BloomIngestGateSpec). */
  def gateBatch(batch: DataFrame, filter: Array[Long], k: Int, m: Int): DataFrame = {
    val spark = batch.sparkSession
    require(!batch.columns.contains("keep_id"),
      "the gate reserves the column name keep_id; rename it on the input first")
    val arrivals = batch.select(col("doc_id"),
      coalesce(col("text"), lit("")).as("text"))
    val firstPerText = arrivals.groupBy("text").agg(min(col("doc_id")).as("keep_id"))
    BloomDedup.gate(spark, arrivals.join(firstPerText, "text"), filter, k, m)
      .select(col("doc_id"), col("text"), col("bloom_dup"),
        when(col("doc_id") =!= col("keep_id"), col("keep_id")).as("dup_of"),
        (col("doc_id") === col("keep_id") && !col("bloom_dup")).as("admitted"))
  }

  /** One micro-batch's gate + writes — carved out of [[start]] so the
    * replay contract is directly testable (called twice with the same
    * batchId, the second call reconciles to the first's verdicts and
    * rewrites identical partitions). */
  private[graft] def landBatch(batch: DataFrame, batchId: Long, tag: String,
                               landingDir: String, receiptsDir: String): Unit = {
    val spark = batch.sparkSession
    val (filter, m, k) = BloomDedup.load(spark, tag)
    val gated = gateBatch(batch, filter, k, m)
    // replay reconciliation: doc_ids this batch already landed stay
    // admitted even though the absorbed filter now flags them
    val partPath = new org.apache.hadoop.fs.Path(s"$landingDir/batch_id=$batchId")
    val fs = partPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val verdicts = (if (fs.exists(partPath))
      gated.join(spark.read.parquet(partPath.toString).select("doc_id")
          .withColumn("landed_before", lit(true)), Seq("doc_id"), "left")
        .withColumn("admitted",
          col("admitted") || coalesce(col("landed_before"), lit(false)))
        .drop("landed_before")
    else gated).persist()
    try {
      val pmKey = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.getOption(pmKey)
      spark.conf.set(pmKey, "dynamic")
      try {
        val admitted = verdicts.filter(col("admitted")).select("doc_id", "text")
        admitted.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").partitionBy("batch_id").parquet(landingDir)
        BloomDedup.absorb(spark, tag, admitted)
        verdicts.select("doc_id", "bloom_dup", "dup_of", "admitted")
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").partitionBy("batch_id").parquet(receiptsDir)
      } finally {
        prev match {
          case Some(v) => spark.conf.set(pmKey, v)
          case None    => spark.conf.unset(pmKey)
        }
      }
    } finally verdicts.unpersist()
  }

  /** Start the gate. `stream` must carry (doc_id: long, text: string);
    * the filter `tag` must exist ([[BloomDedup.persist]] an empty
    * or pre-seeded filter first — geometry is deployment-chosen, see the
    * sizing formula in [[BloomDedup]]'s scaladoc). */
  def start(stream: DataFrame, tag: String, landingDir: String,
            receiptsDir: String, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          landBatch(batch, batchId, tag, landingDir, receiptsDir)
      }
      .start()
}
