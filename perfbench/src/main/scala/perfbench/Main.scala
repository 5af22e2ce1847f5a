package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.Graft

/** Driver JVM counters: collector time and peak heap over a phase. */
object Jvm {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())

  def snapshot(gcStart: Long): Map[String, Any] = Map(
    "gc_ms" -> (gcMs - gcStart),
    "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)

  /** Fixed single-threaded busy loop (seconds): equal on a quiet machine,
    * slower when the run shares its cores.
    */
  def sentinel(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var acc = 0L
    var i = 0
    while (i < 50000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x
      i += 1
    }
    if (acc == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }
}

/** One benchmark run inside one JVM:
  * `perfbench.Main <workload> <seed> <trace 0|1> <cores> <work dir> <out json> [key=value ...]`.
  * The key=value parameters size the workload (see `perfbench/run.py`).
  * Writes the run record as JSON to `<out json>`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch { case e: Throwable => e.printStackTrace(); 1 }
    // skip Spark's shutdown hooks: the record is written, or the run failed,
    // and the caller deletes the work directory either way
    Runtime.getRuntime.halt(code)
  }

  private def run(args: Array[String]): Unit = {
    val Array(workload, seedS, traceS, coresS, work, out) = args.take(6)
    val p = args.drop(6).map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    def int(k: String) = p(k).toInt
    def dbl(k: String) = p(k).toDouble
    val seed = seedS.toLong
    val cores = coresS.toInt
    val sentinelStart = Jvm.sentinel()
    val t0 = System.nanoTime()
    val spark = Graft.session(s"local[$cores]", cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, traceS == "1")
    val traffic = AuditTraffic(int("history_rows"), int("history_days"),
      int("backlog_txns"), dbl("out_of_order_share"), dbl("duplicate_share"),
      dbl("malformed_share"), dbl("app_key_zipf"))
    val audit = new AuditWorkloads(spark, work, seed, tracer)
    val rec = try workload match {
      case "audit_ingest" =>
        audit.ingest(traffic, int("setups"), int("warm_history_rows"), int("warm_txns"),
          int("reads"), int("probe_pairs"))
      case "audit_search" =>
        audit.search(traffic, int("setups"), int("warm_history_rows"), int("searches"),
          int("details"), int("writes"), dbl("point_share"), int("catalog"),
          dbl("filter_zipf"), int("write_txns"), int("probe_pairs"))
      case other => sys.error(s"unknown workload $other")
    } finally tracer.close()
    val full = rec ++ Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "session_s" -> sessionS,
      "sentinel_s" -> Seq(sentinelStart, Jvm.sentinel()),
      "trace" -> tracer.record)
    Files.writeString(Paths.get(out), Json.write(full))
  }
}
