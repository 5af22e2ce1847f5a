package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.{AuditEngine, BlobCache, ResultCache}
import graft.streaming.IngestJob

/** The two audit workloads. Both are closed loops with one client thread;
  * every call is checked against the plain-Scala reference model after it
  * has been timed.
  *
  * An untimed warm-up on a small root of its own runs every call kind of
  * the workload first, so the cold JVM's first pass is never timed. Set-up
  * then runs `setups` times, each into a fresh root, and the run reports
  * their median as `setup_s`; the last root takes the measured pass.
  */
final class AuditWorkloads(spark: SparkSession, work: String, seed: Long, tracer: Tracer) {

  // wall seconds of each phase of the run, in order
  private val phases = mutable.LinkedHashMap.empty[String, Double]
  private var lastMark = System.nanoTime()
  private def mark(phase: String): Unit = {
    val now = System.nanoTime()
    phases(phase) = (now - lastMark) / 1e9
    lastMark = now
  }

  private val failures = mutable.ArrayBuffer.empty[String]
  private var failed = 0L
  private def check(ok: Boolean, msg: => String): Unit = if (!ok) {
    failed += 1
    if (failures.size < 20) failures += msg
  }

  /** Runs `warmUp` untimed on its own root, then `setup` on `setups`
    * fresh roots; returns the last root, its setup result and every timed
    * set-up's seconds.
    */
  private def prepare[T](setups: Int)(warmUp: String => Unit)(setup: String => T)
      : (String, T, Seq[Double]) = {
    require(setups >= 3, "a run times at least three set-ups")
    warmUp(s"$work/warm")
    mark("warm_up")
    val out = (0 until setups).map { i =>
      val root = s"$work/root$i"
      val t0 = System.nanoTime()
      val v = setup(root)
      val sec = (System.nanoTime() - t0) / 1e9
      mark(s"setup$i")
      (root, v, sec)
    }
    (out.last._1, out.last._2, out.map(_._3))
  }

  /** Small seeded data for the warm-up, disjoint from the measured run's. */
  private def warmData(t: AuditTraffic, rows: Int, txns: Int) =
    new AuditData(t.copy(historyRows = rows, backlog = txns), seed + 1000003)

  /** Tracing overhead, measured in this JVM: `pairs` uncached searches over
    * `store`, each filter run once with the listeners detached and once
    * attached, the order alternating between pairs. Empty when untraced.
    */
  private def overheadProbe(store: String, catalog: IndexedSeq[Map[String, Any]],
                            pairs: Int): Map[String, Any] = {
    if (!tracer.active) return Map.empty
    val engine = AuditEngine(spark, store)
    val rng = new Random(seed * 31 + 9)
    val (off, on) = (0 until pairs).map { i =>
      val f = catalog(rng.nextInt(catalog.size))
      def untraced() = tracer.untraced(searchOne(engine, f))._2
      def traced() = tracer.op("overhead.search")(searchOne(engine, f))._2
      if (i % 2 == 0) { val a = untraced(); (a, traced()) }
      else { val b = traced(); (untraced(), b) }
    }.unzip
    mark("overhead_probe")
    Map("overhead_ms" -> Map("untraced" -> off, "traced" -> on))
  }

  /** Seeds `store` with the history through one `IngestJob.processBatch`
    * call, so the layout (one `dt` partition per day) is the program's own.
    */
  private def seedHistory(data: AuditData, store: String): Map[String, Rec] = {
    IngestJob.processBatch(spark, AuditData.frame(spark, data.history.flatten), store)
    AuditData.mergeAll(Map.empty, data.history.flatten.flatMap(_.rec))
  }

  /** Compares the whole store with the model; one failure per wrong,
    * missing or extra transaction.
    */
  private def checkStore(store: String, model: Map[String, Rec]): Unit = {
    val schema = StructType(IngestJob.storeSchema.fields :+ StructField("dt", StringType))
    val actual = spark.read.schema(schema).parquet(store).collect()
      .map(r => r.getAs[String]("transaction_id") -> (AuditData.fromRow(r), r.getAs[String]("dt")))
      .toMap
    for ((k, m) <- model) actual.get(k) match {
      case Some((a, dt)) =>
        check(a == m && dt == m.dt, s"store row $k: got $a dt=$dt, want $m dt=${m.dt}")
      case None => check(false, s"store row $k missing")
    }
    (actual.keySet -- model.keySet).foreach(k => check(false, s"unexpected store row $k"))
  }

  /** Parquet bytes under `store` and the rows it holds. */
  private def footprint(store: String, rows: Long): Map[String, Any] = {
    val bytes = Files.walk(Paths.get(store)).filter(p => p.toString.endsWith(".parquet"))
      .mapToLong(p => Files.size(p)).sum()
    Map("store_bytes" -> bytes, "store_rows" -> rows)
  }

  private def searchOne(engine: AuditEngine, filters: Map[String, Any]) =
    engine.search(filters).collect().map(AuditData.fromRow).toSeq

  // ---------------------------------------------------------------- ingest

  /** `IngestJob.run` drains a pre-landed backlog, then uncached searches
    * read the freshly written store.
    */
  def ingest(t: AuditTraffic, setups: Int, warmRows: Int, warmTxns: Int, reads: Int,
             probePairs: Int): Map[String, Any] = {
    val data = new AuditData(t, seed)
    val backlog = data.backlog
    val (root, history, setupS) = prepare(setups) { root =>
      val w = warmData(t, warmRows, warmTxns)
      seedHistory(w, s"$root/store")
      land(s"$root/in", w.backlog)
      IngestJob.run(spark, s"$root/in", s"$root/store", s"$root/cp").awaitTermination()
      AuditEngine(spark, s"$root/store").search(Map.empty).collect()
    } { root =>
      val h = seedHistory(data, s"$root/store")
      land(s"$root/in", backlog)
      h
    }
    val store = s"$root/store"
    val model = AuditData.mergeAll(history, backlog.flatMap(_.rec))

    val gc0 = Jvm.gcMs
    Jvm.resetPeaks()
    val (query, drainMs) = tracer.op("IngestJob.run", Map("envelopes" -> backlog.size)) {
      val q = IngestJob.run(spark, s"$root/in", store, s"$root/cp")
      q.awaitTermination()
      q
    }
    val jvm = Jvm.snapshot(gc0)
    mark("measured")
    val progress = query.recentProgress.filter(_.numInputRows > 0)
    val committed = progress.map { p =>
      val m = p.observedMetrics.get("ingest")
      m.getAs[Long]("requests_processed") + m.getAs[Long]("responses_processed")
    }.sum

    // serving reads over the stream-written layout, through the uncached
    // search path so the caches stay idle
    val engine = AuditEngine(spark, store)
    val catalog = data.filterCatalog(64)
    val rng = new Random(seed * 31 + 7)
    val readMs = (0 until reads).map { _ =>
      val f = catalog(rng.nextInt(catalog.size))
      val (got, ms) = tracer.op("AuditEngine.search", Map("filters" -> f.size))(searchOne(engine, f))
      check(got == AuditData.search(model.values, f), s"search $f differs from the model")
      ms
    }
    mark("reads")
    val probe = overheadProbe(store, catalog, probePairs)

    checkStore(store, model)
    val dlq = spark.read.parquet(s"$store.dlq").select("src_key", "reason").collect()
      .map(r => AuditData.keyName(r.getString(0)) -> r.getString(1)).toSet
    val wantDlq = backlog.filter(_.rec.isEmpty).map(_.name -> "malformed_json").toSet
    check(dlq == wantDlq, s"dead letters: ${dlq.size} rows, want ${wantDlq.size}")
    mark("checks")
    Map(
      "setup_s" -> setupS,
      "phases_s" -> phases,
      "attempted" -> (backlog.size + reads),
      "failed" -> failed,
      "failures" -> failures.toSeq,
      "traffic" -> t.toMap,
      "pass_ms" -> drainMs,
      "trigger_ms" -> progress.map(_.batchDuration.toDouble).toSeq,
      "write_ms" -> progress.map(_.batchDuration.toDouble).toSeq,
      "write_rows" -> committed,
      "write_wall_ms" -> drainMs,
      "search_ms" -> readMs,
      "jvm" -> jvm) ++ probe ++ footprint(store, model.size)
  }

  /** Lands `envs` in `dir`, one file each, with modification times in
    * landing order (the file source picks files oldest first).
    */
  private def land(dir: String, envs: Seq[Envelope]): Unit = {
    new File(dir).mkdirs()
    val base = System.currentTimeMillis() - 3600L * 1000
    envs.zipWithIndex.foreach { case (e, i) =>
      val f = new File(dir, e.name)
      Files.writeString(f.toPath, e.json)
      f.setLastModified(base + i * 10L)
    }
  }

  // ---------------------------------------------------------------- search

  /** A seeded mix against a pre-seeded store: `searches` cached searches
    * (a `pointShare` of them `transaction_id` lookups) and `details` cached
    * searches with details in shuffled order, with `writes` small
    * `IngestJob.processBatch` calls spaced evenly between them, each
    * followed by invalidating both caches: the sequence `IngestJob.run`'s
    * invalidate hooks run.
    */
  def search(t: AuditTraffic, setups: Int, warmRows: Int, searches: Int, details: Int,
             writes: Int, pointShare: Double, catalogSize: Int,
             filterSkew: Double, writeTxns: Int, probePairs: Int): Map[String, Any] = {
    val data = new AuditData(t, seed)
    val gen = new Random(seed * 31 + 5)
    val writeDay = AuditData.Day0Ms + t.historyDays * AuditData.DayMs
    val writeBatches = (0 until writes).map { w =>
      (0 until writeTxns).flatMap { i =>
        val ts = writeDay + (w * writeTxns + i) * 1000L + gen.nextInt(1000)
        val (q, r) = data.transaction(gen, f"w$w%03d-$i%03d", ts, s"audit/${AuditData.day(ts)}/")
        Seq(q, r)
      }
    }
    val envelopes = data.history.flatten ++ writeBatches.flatten
    def payload(e: Envelope) = s"""{"body":${e.json},"bytes":${e.json.length}}"""
    def writePayloads(envs: Seq[Envelope], dir: String): Unit =
      spark.createDataFrame(envs.map(e => (e.name, payload(e)))).toDF("s3_key", "payload")
        .repartition(4).write.parquet(dir)
    val payloadOf = envelopes.map(e => AuditData.keyName(e.name) -> payload(e)).toMap
    val fullKey = envelopes.map(e => AuditData.keyName(e.name) -> e.name).toMap
    val catalog = data.filterCatalog(catalogSize)
    val zipf = new Zipf(catalog.size, filterSkew)
    // op kinds: exact counts, reads shuffled, writes evenly spaced
    val total = searches + details + writes
    val kinds = {
      val r = new Random(seed * 31 + 6)
      val reads = r.shuffle(Seq.fill(searches)('s') ++ Seq.fill(details)('d')).iterator
      val at = (1 to writes).map(k => k * total / writes - 1).toSet
      (0 until total).map(i => if (at(i)) 'w' else reads.next())
    }
    val filters = {
      val r = new Random(seed * 31 + 8)
      val txns = data.history.flatten.flatMap(_.rec).map(_.txn).distinct.sorted.toIndexedSeq
      kinds.map(_ =>
        if (r.nextDouble() < pointShare) Map[String, Any]("transaction_id" -> txns(r.nextInt(txns.size)))
        else catalog(zipf.draw(r)))
    }

    val (root, history, setupS) = prepare(setups) { root =>
      val w = warmData(t, warmRows, 0)
      seedHistory(w, s"$root/store")
      writePayloads(w.history.flatten ++ writeBatches.head, s"$root/payloads")
      val e = AuditEngine(spark, s"$root/store")
      val p = spark.read.parquet(s"$root/payloads")
      val (c, b) = (new ResultCache(), new BlobCache())
      IngestJob.processBatch(spark, AuditData.frame(spark, writeBatches.head), s"$root/store")
      catalog.take(6).foreach { f =>
        e.searchCached(c, f).collect()
        e.searchWithDetailsCached(f, p, b).collect()
      }
    } { root =>
      val h = seedHistory(data, s"$root/store")
      writePayloads(envelopes, s"$root/payloads")
      h
    }
    val store = s"$root/store"
    val engine = AuditEngine(spark, store)
    val payloads = spark.read.parquet(s"$root/payloads")
    val cache = new ResultCache()
    val blobs = new BlobCache()
    var model = history
    val searchMs, detailsMs, writeMs = mutable.ArrayBuffer.empty[Double]
    val searchHit = mutable.ArrayBuffer.empty[Boolean]
    var blobAsked, blobHit = 0L
    var writeRows = 0L
    var w = 0
    val gc0 = Jvm.gcMs
    Jvm.resetPeaks()
    kinds.zip(filters).foreach {
      case ('w', _) =>
        val batch = writeBatches(w)
        w += 1
        val df = AuditData.frame(spark, batch)
        val (_, ms) = tracer.op("IngestJob.processBatch", Map("envelopes" -> batch.size)) {
          IngestJob.processBatch(spark, df, store)
          cache.invalidateAll()
          blobs.invalidateAll()
        }
        writeMs += ms
        writeRows += batch.size
        model = AuditData.mergeAll(model, batch.flatMap(_.rec))
      case ('d', f) =>
        val want = AuditData.search(model.values, f)
        val (asked, hits) =
          if (!tracer.active) (0, 0)
          else {
            val keys = want.flatMap(r => r.req ++ r.resp).distinct
            (keys.size, keys.count(k => blobs.get(fullKey(k)).isDefined))
          }
        blobAsked += asked
        blobHit += hits
        val (got, ms) = tracer.op("AuditEngine.searchWithDetailsCached",
          Map("filters" -> f.size, "blob_keys" -> asked, "blob_hits" -> hits)) {
          engine.searchWithDetailsCached(f, payloads, blobs).collect()
        }
        detailsMs += ms
        val payloadsOk = got.forall { r =>
          def ok(k: String, d: String) = Option(r.getAs[String](k)).map(AuditData.keyName)
            .forall(x => payloadOf.get(x).contains(r.getAs[String](d)))
          ok("request_s3_key", "request_data") && ok("response_s3_key", "response_data")
        }
        check(got.map(AuditData.fromRow).toSeq == want && payloadsOk,
          s"details $f differs from the model")
      case (_, f) =>
        val hit = tracer.active && cache.contains(cache.keyOf(f, 100))
        val (got, ms) = tracer.op("AuditEngine.searchCached",
          Map("filters" -> f.size, "hit" -> hit)) {
          engine.searchCached(cache, f).collect()
        }
        searchMs += ms
        searchHit += hit
        check(got.map(AuditData.fromRow).toSeq == AuditData.search(model.values, f),
          s"search $f differs from the model")
    }
    val jvm = Jvm.snapshot(gc0)
    mark("measured")
    val probe = overheadProbe(store, catalog, probePairs)
    checkStore(store, model)
    mark("checks")
    Map(
      "setup_s" -> setupS,
      "phases_s" -> phases,
      "attempted" -> total,
      "failed" -> failed,
      "failures" -> failures.toSeq,
      "traffic" -> t.toMap,
      "pass_ms" -> (searchMs.sum + detailsMs.sum + writeMs.sum),
      "search_ms" -> searchMs.toSeq,
      "search_hit" -> searchHit.toSeq,
      "details_ms" -> detailsMs.toSeq,
      "write_ms" -> writeMs.toSeq,
      "write_rows" -> writeRows,
      "write_wall_ms" -> writeMs.sum,
      "blob_keys_asked" -> blobAsked,
      "blob_keys_hit" -> blobHit,
      "jvm" -> jvm) ++ probe ++ footprint(store, model.size)
  }
}

