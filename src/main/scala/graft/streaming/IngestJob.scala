package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** The reference's ingestion pipeline (SURVEY §3.1), re-expressed as ONE
  * Structured Streaming job.
  *
  * Reference flow: HTTP middleware serializes request/response envelopes to
  * S3 (`reference/src/middleware/audit.middleware.ts:44-88`), S3 events fan
  * through SQS to a Lambda (`reference/src/lambda/processQueue.ts:100-113`)
  * that classifies each blob by key (`:113`), batches ≤100 (`:5,245-248`),
  * then INSERTs request rows and UPDATE-joins response rows into Postgres
  * (`:162-244`) with per-batch transactions and retries (`:131-160`).
  *
  * Spark realization: a file source replaces S3→SQS→Lambda discovery (new
  * files ARE the event stream; `maxFilesPerTrigger` is the batch-size
  * analog), `foreachBatch` replaces the Lambda body, and checkpointing +
  * idempotent merge gives exactly-once per epoch — strictly stronger than
  * the reference's at-least-once with 3 retries.
  *
  * Merge semantics: request and response sub-events correlate on
  * `transaction_id` (`processQueue.ts:230-238`). The reference silently
  * drops a response that arrives before its request (its UPDATE matches 0
  * rows — SURVEY §2.9 R3). We deliberately deviate (SURVEY §7.4): an early
  * response is kept as a pending row with null request fields and completes
  * when the request lands — the merge is a single `groupBy(transaction_id)`
  * with null-skipping `max` aggregates, which is order-insensitive,
  * idempotent under batch replay, and one shuffle at any scale. A second
  * deliberate deviation: if a transaction receives MULTIPLE conflicting
  * responses (retries), `max` keeps the highest value per field — the
  * reference's sequential UPDATEs are last-write-wins, but SQS redelivery
  * makes its "last" arrival-order-dependent; `max` is deterministic.
  *
  * Store layout: date-partitioned Parquet (`dt=yyyy-MM-dd`, `dt=pending`
  * for response-only rows awaiting their request), mirroring the
  * reference's `audit/{date}/...` object scheme (`s3.service.ts:33-34`) and
  * giving partition pruning on time-ranged queries.
  *
  * Scale shape of a micro-batch (the reference's keyed UPDATE replayed
  * without an index): the batch's ≤`maxFilesPerTrigger` keys are deduped
  * in the driver and pushed down as a parquet IN-filter on the store (row-
  * group stats skip almost everything). ONE aggregation merges the located
  * rows with the batch and keeps each key's old `dt`, so it yields both the
  * merged rows and every affected partition; the REWRITE touches only those
  * `dt` partitions — O(affected partitions) written per trigger, not
  * O(store). At micro-batch size the trigger's cost is its fixed jobs, not
  * its data: a trigger runs at most five (the batch read with the key
  * collect, the dead-letter write when the batch has dead letters, the
  * merge's shuffle stage and its collect, the rewrite), and the file source
  * lists the trigger's files in the driver ([[graft.Graft.session]]). At
  * warehouse scale the same batch plan lands on a Delta/Iceberg MERGE or a
  * store bucketed by `transaction_id`, which turns the locate scan into a
  * bucket lookup.
  */
object IngestJob {

  /** Raw envelope schema — union of the request blob the middleware writes
    * (`audit.middleware.ts:44-56`: `transactionId, appId, url, workflowId,
    * action, timestamp`) and the response blob (`transactionId,
    * statusCode`). `url` is what the middleware emits; the Lambda maps it
    * to `endpoint` (`processQueue.ts:119`) — `endpoint` stays readable here
    * for pre-mapped envelopes. The S3 keys are NOT in the blob: the
    * reference derives them from the object key (`processQueue.ts:122,127`),
    * which [[toRecords]] mirrors via `srcKey`. `_corrupt_record` captures
    * unparseable JSON for the dead-letter path (SURVEY §2.9 R5).
    */
  val rawSchema: StructType = StructType(Seq(
    StructField("transactionId", StringType),
    StructField("appId", StringType),
    StructField("url", StringType),
    StructField("endpoint", StringType),
    StructField("workflowId", StringType),
    StructField("action", StringType),
    StructField("timestamp", StringType),
    StructField("statusCode", IntegerType),
    StructField("_corrupt_record", StringType)))

  /** The `api_audit` analog (DDL `reference/src/scripts/setup-db.ts:55-68`;
    * `BIGSERIAL id` deliberately omitted — SURVEY §7.4).
    */
  val storeSchema: StructType = StructType(Seq(
    StructField("transaction_id", StringType, nullable = false),
    StructField("app_id", StringType),
    StructField("endpoint", StringType),
    StructField("workflow_id", StringType),
    StructField("action", StringType),
    StructField("status_code", IntegerType),
    StructField("timestamp", TimestampType),
    StructField("request_s3_key", StringType),
    StructField("response_s3_key", StringType)))

  private val storeSchemaWithDt =
    StructType(storeSchema.fields :+ StructField("dt", StringType))

  /** Partition value for rows whose request (and thus timestamp) has not
    * arrived yet — an explicit sentinel instead of a null partition so the
    * pending rows are one cheap directory read at correlate time.
    */
  val PendingDt = "pending"

  /** The named column if the frame has it, else a null literal — caller
    * frames (facade users, tests) may omit the optional envelope fields.
    */
  private def colOpt(df: DataFrame, name: String): org.apache.spark.sql.Column =
    if (df.columns.contains(name)) col(name) else lit(null).cast(StringType)

  /** A record is dead-lettered if its JSON did not parse or it lacks the
    * correlation key (the reference throws and counts these —
    * `processQueue.ts:61-79` — and notes "Optionally send to DLQ").
    */
  private def deadCond(df: DataFrame): org.apache.spark.sql.Column =
    colOpt(df, "_corrupt_record").isNotNull || col("transactionId").isNull

  /** Classification + projection: the Lambda's key-based routing
    * (`processQueue.ts:113-128`). `srcKey` is the file path (the S3-key
    * analog); request envelopes contribute request fields, response
    * envelopes only (status_code, response_s3_key). Matching the reference:
    * `endpoint` comes from the blob's `url` (`processQueue.ts:119`, with
    * pre-mapped `endpoint` as fallback) and the request/response S3 keys
    * are the object key itself (`:122,127`), not blob fields.
    */
  def toRecords(envelopes: DataFrame): DataFrame = {
    // match the full file name, exactly like the reference's
    // `key.includes('request.json')` — a bare "request" substring would
    // misroute paths whose transaction id happens to contain it
    val isReq = col("srcKey").contains("request.json")
    envelopes.filter(!deadCond(envelopes)).select(
      col("transactionId").as("transaction_id"),
      when(isReq, col("appId")).as("app_id"),
      when(isReq, coalesce(colOpt(envelopes, "url"), colOpt(envelopes, "endpoint")))
        .as("endpoint"),
      when(isReq, col("workflowId")).as("workflow_id"),
      when(isReq, col("action")).as("action"),
      when(!isReq, col("statusCode")).as("status_code"),
      when(isReq, to_timestamp(col("timestamp"))).as("timestamp"),
      when(isReq, col("srcKey")).as("request_s3_key"),
      when(!isReq, col("srcKey")).as("response_s3_key"))
  }

  /** Dead-letter projection: the quarantined envelope with its source path,
    * failure reason, and raw payload (the corrupt text, or the parsed
    * fields re-serialized when the failure is a missing key).
    */
  def toDeadLetters(envelopes: DataFrame): DataFrame =
    envelopes.filter(deadCond(envelopes)).select(
      col("srcKey").as("src_key"),
      when(colOpt(envelopes, "_corrupt_record").isNotNull, "malformed_json")
        .otherwise("missing_transaction_id").as("reason"),
      coalesce(colOpt(envelopes, "_corrupt_record"),
        to_json(struct(envelopes.columns.filter(_ != "_corrupt_record")
          .map(col).toIndexedSeq: _*))).as("payload"))

  /** Set-based merge of any mix of store rows / request rows / response
    * rows: one aggregation on the key; null-skipping `max` picks the
    * populated value per field. Insert, update-join, AND the out-of-order
    * case fall out of the same plan (the reference needs three code paths:
    * `processQueue.ts:162-198` insert, `:199-244` update, drop-on-miss).
    *
    * When `store` carries its `dt` partition column, the result also has
    * `old_dt_min`/`old_dt_max`: the lowest and highest partition the key
    * was located in, null for a key new to the store. A key sits in one
    * partition, or in two after a crash mid-swap (its dated partition
    * promoted, `dt=pending` not yet rotated), so the pair names them all.
    * `min`/`max` leave the aggregate's operator as it is; a `collect_set`
    * would switch it to `ObjectHashAggregate`, which falls back to sorting
    * above 128 keys per task.
    */
  def merge(store: DataFrame, records: DataFrame): DataFrame = {
    val located = store.columns.contains("dt")
    val oldDt =
      if (located) Seq(min("dt").as("old_dt_min"), max("dt").as("old_dt_max"))
      else Nil
    val aggs = storeSchema.fieldNames.toSeq.filter(_ != "transaction_id")
      .map(f => max(f).as(f)) ++ oldDt
    store.unionByName(
        if (located) records.withColumn("dt", lit(null).cast(StringType))
        else records)
      .groupBy(col("transaction_id"))
      .agg(aggs.head, aggs.tail: _*)
  }

  private def fileSystem(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `dt=...` child directory names of `dir`, empty if `dir` is missing. */
  private def listParts(fs: FileSystem, dir: String): Set[String] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("dt="))
      .map(_.getPath.getName.stripPrefix("dt=")).toSet
  }

  /** Hadoop `FileSystem.rename` reports failure by RETURNING FALSE, not
    * throwing. An unchecked rename inside the swap protocol could silently
    * lose the last good generation of a partition (the batch would commit
    * to the checkpoint without its data ever landing) — so every swap step
    * throws on false, failing the epoch so it replays.
    */
  private def renameOrThrow(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename failed: $src -> $dst")

  /** Read the current store (without the partition column). Recovers
    * partitions mid-swap: any `dt` present under `<store>.bak` but missing
    * from the primary is read from the backup — at every crash point of
    * [[swapPartitions]] each partition's last fully-written generation is
    * in exactly one of the two places.
    */
  def readStore(spark: SparkSession, storeDir: String): DataFrame =
    readStoreWithDt(spark, storeDir).drop("dt")

  private def readStoreWithDt(spark: SparkSession, storeDir: String): DataFrame = {
    val fs = fileSystem(spark, storeDir)
    val primary = listParts(fs, storeDir)
    val fromBak = listParts(fs, storeDir + ".bak") -- primary
    def readParts(base: String, parts: Set[String]): Option[DataFrame] =
      if (parts.isEmpty) None
      else Some(spark.read.option("basePath", base).schema(storeSchemaWithDt)
        .parquet(parts.map(p => s"$base/dt=$p").toSeq: _*))
    (readParts(storeDir, primary), readParts(storeDir + ".bak", fromBak)) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], storeSchemaWithDt)
    }
  }

  /** Promote freshly-written partition directories from `<store>.tmp` into
    * the store, one checked-rename swap per partition: rotate the current
    * generation to `<store>.bak/dt=p`, promote `dt=p` from tmp, and only
    * after EVERY partition promoted drop the backups. Crash at any point
    * leaves each partition's last good generation visible to [[readStore]],
    * and checkpointed epoch replay re-merges to the identical result (the
    * merge is idempotent), so no window loses data.
    */
  private def swapPartitions(
      fs: FileSystem, storeDir: String, parts: Seq[String]): Unit = {
    val bakRoot = new Path(storeDir + ".bak")
    if (!fs.exists(bakRoot)) fs.mkdirs(bakRoot)
    val dstRoot = new Path(storeDir)
    if (!fs.exists(dstRoot)) fs.mkdirs(dstRoot)
    // HEAL first: a partition whose ONLY copy sits under .bak (a previous
    // call crashed between its rotate and promote — e.g. a compaction,
    // which the streaming checkpoint does NOT replay) and which this call
    // is not rewriting would be destroyed by the wholesale backup cleanup
    // below. Promote it back into the primary before touching anything.
    // Partitions this call IS rewriting need no heal: their bak content
    // was already folded into the new generation by readStoreWithDt.
    val rewriting = parts.toSet
    (listParts(fs, storeDir + ".bak") -- listParts(fs, storeDir) -- rewriting)
      .foreach { p =>
        renameOrThrow(fs,
          new Path(s"$storeDir.bak/dt=$p"), new Path(s"$storeDir/dt=$p"))
      }
    parts.foreach { p =>
      val tmp = new Path(s"$storeDir.tmp/dt=$p")
      val dst = new Path(s"$storeDir/dt=$p")
      val bak = new Path(s"$storeDir.bak/dt=$p")
      // a partition absent from tmp means the batch emptied it (all its
      // rows moved, e.g. pending -> dated): rotate it away, promote nothing
      val hasTmp = fs.exists(tmp)
      if (fs.exists(dst)) {
        // dst is the newest generation, so an existing bak is stale
        if (fs.exists(bak)) fs.delete(bak, true)
        renameOrThrow(fs, dst, bak)
      }
      // when dst was missing, an existing bak may be the ONLY copy (crash
      // landed between its rotate and promote) — it must survive until the
      // post-promote cleanup, never be deleted here
      if (hasTmp) renameOrThrow(fs, tmp, dst)
    }
    // every promote verified — the previous generation can go
    fs.delete(bakRoot, true)
    fs.delete(new Path(storeDir + ".tmp"), true)
  }

  /** One micro-batch = the Lambda body (`processQueue.ts:22-80`), scoped to
    * the partitions the batch actually touches:
    *
    *  1. KEYS — the batch's keys, collected and deduped in the driver
    *     (bounded by `maxFilesPerTrigger`, the Lambda's batch cap).
    *  2. LOCATE + MERGE — one pass: the store scan with the key IN-list
    *     pushed down to parquet, unioned with the batch records, one
    *     aggregation on the key ([[merge]]). Each merged row carries its
    *     new `dt` and the old `dt`s it was located in; the merged rows are
    *     collected (one per key), so they name every affected partition.
    *  3. REWRITE — untouched keys of the affected partitions are carried
    *     over, everything lands in `<store>.tmp`, and [[swapPartitions]]
    *     promotes. Partitions without a batch key are never read beyond the
    *     locate scan, never written.
    *
    * Four Spark jobs: the key collect, the merge's shuffle stage, the
    * merged rows' collect, and the rewrite.
    */
  def processBatch(spark: SparkSession, batch: DataFrame, storeDir: String): Unit = {
    val records = toRecords(batch)
    mergeBatch(spark, records,
      records.select("transaction_id").collect().map(_.getString(0))
        .distinct.toIndexedSeq,
      storeDir)
  }

  /** Steps 2-3 of [[processBatch]] for `records` whose distinct keys are
    * `keys`.
    */
  private def mergeBatch(
      spark: SparkSession, records: DataFrame, keys: Seq[String],
      storeDir: String): Unit = {
    if (keys.isEmpty) return
    val store = readStoreWithDt(spark, storeDir)
    val merged = merge(store.filter(col("transaction_id").isInCollection(keys)), records)
      .withColumn("dt",
        coalesce(date_format(col("timestamp"), "yyyy-MM-dd"), lit(PendingDt)))
    // one row per key, and the driver holds the keys already: collected,
    // the merged rows name every affected partition (old dts are null for
    // keys new to the store) and feed the rewrite without a second run
    val rows = merged.collect()
    val parts: Seq[String] = rows
      .flatMap(r => Seq("dt", "old_dt_min", "old_dt_max").map(r.getAs[String]))
      .filter(_ != null).distinct.toIndexedSeq
    val survivors = store
      .filter(col("dt").isInCollection(parts) &&
        !col("transaction_id").isInCollection(keys))
    survivors.unionByName(
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), merged.schema)
          .drop("old_dt_min", "old_dt_max"))
      .write.mode("overwrite").partitionBy("dt").parquet(storeDir + ".tmp")
    swapPartitions(fileSystem(spark, storeDir), storeDir, parts)
  }

  /** Compact the store's partitions: every long-running micro-batch sink
    * accumulates small files (each trigger writes at least one per touched
    * partition); scans then pay per-file open/footer costs. Rewrites each
    * partition's rows into ≤`maxRecordsPerFile`-row files through the same
    * crash-safe [[swapPartitions]] protocol the merge uses — safe to run
    * between triggers, and a crash mid-compaction loses nothing. Only
    * partitions with more than `minFiles` data files are touched.
    */
  def compactStore(
      spark: SparkSession, storeDir: String,
      minFiles: Int = 4, maxRecordsPerFile: Long = 1000000L): Seq[String] = {
    val fs = fileSystem(spark, storeDir)
    val parts = listParts(fs, storeDir).toSeq.filter { p =>
      fs.listStatus(new Path(s"$storeDir/dt=$p"))
        .count(s => s.isFile && s.getPath.getName.endsWith(".parquet")) > minFiles
    }.sorted
    if (parts.nonEmpty) {
      readStoreWithDt(spark, storeDir)
        .filter(col("dt").isInCollection(parts))
        // one writer task per dt: each partition lands as one file run
        // (up to maxRecordsPerFile), scaling across executors by dt
        .repartition(col("dt"))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", maxRecordsPerFile.toString)
        .partitionBy("dt").parquet(storeDir + ".tmp")
      swapPartitions(fs, storeDir, parts)
    }
    parts
  }

  /** Start the ingestion stream over a directory of request/response JSON
    * envelopes. `maxFilesPerTrigger` mirrors the Lambda batch cap of 100
    * (`processQueue.ts:5`); `observe` mirrors its CloudWatch counters
    * (`:256-281` — RequestsProcessed / ResponsesProcessed), surfaced through
    * any registered `StreamingQueryListener`. Records that fail to parse or
    * lack a `transaction_id` are quarantined to `quarantineDir` (default
    * `<store>.dlq`) with their source path, reason, and raw payload — the
    * reference's acknowledged TODO ("Optionally send to DLQ",
    * `processQueue.ts:76-79`) made real — and still counted in
    * `failed_records`.
    *
    * `invalidate`: an optional [[graft.ResultCache]] cleared after each
    * committed batch, so cached search results never outlive the data they
    * were computed from (a deliberate improvement — the reference's Redis
    * entries only age out via TTL, `audit.services.ts:83`).
    * `invalidateBlobs`: same hook for the per-blob [[graft.BlobCache]] —
    * blob keys are write-once by contract, but a late response batch CAN
    * land a payload for a key a prior search already resolved (as absent),
    * and wiring the write path here means a post-ingest search never
    * serves a pre-ingest blob view even inside the TTL window.
    */
  def run(
      spark: SparkSession,
      inDir: String,
      storeDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 100,
      trigger: Trigger = Trigger.AvailableNow(),
      quarantineDir: String = null,
      invalidate: graft.ResultCache = null,
      invalidateBlobs: graft.BlobCache = null): StreamingQuery = {
    val dlqDir = Option(quarantineDir).getOrElse(storeDir + ".dlq")
    // a dead-lettered envelope must count ONLY as failed: the reference's
    // processRecord throw skips the batch push entirely
    // (processQueue.ts:42-66), so Requests/ResponsesProcessed are success
    // counters, disjoint from FailedRecords
    val failed = col("_corrupt_record").isNotNull || col("transactionId").isNull
    val envelopes = spark.readStream
      .schema(rawSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(inDir)
      .withColumn("srcKey", col("_metadata.file_path"))
      .observe("ingest",
        count(when(col("srcKey").contains("request.json") && !failed, 1))
          .as("requests_processed"),
        count(when(!col("srcKey").contains("request.json") && !failed, 1))
          .as("responses_processed"),
        count(when(failed, 1)).as("failed_records"))
    envelopes.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        // one materialization of the micro-batch: the steps below run
        // several actions (quarantine write, key collect, store merge) and
        // an uncached batch would re-read the source AND re-fire the
        // observed counters once per action, over-reporting every metric
        val b = batch.persist()
        try {
          // one job reads the batch and yields both the store keys and
          // whether anything must be quarantined
          val (dead, live) = b.select(col("transactionId"), deadCond(b))
            .collect().partition(_.getBoolean(1))
          // keyed by epoch + dynamic partition overwrite: a replayed epoch
          // (crash after the DLQ write but before the checkpoint commit)
          // rewrites ITS partition instead of appending duplicates — the
          // quarantine gets the same exactly-once-per-epoch semantics as
          // the store swap
          if (dead.nonEmpty)
            toDeadLetters(b).withColumn("batch_id", lit(epochId))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("batch_id")
              .parquet(dlqDir)
          mergeBatch(spark, toRecords(b),
            live.map(_.getString(0)).distinct.toIndexedSeq, storeDir)
          Option(invalidate).foreach(_.invalidateAll())
          Option(invalidateBlobs).foreach(_.invalidateAll())
        } finally b.unpersist()
      }
      .start()
  }
}
