package perfbench

import java.time.Instant
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.streaming.IngestJob

/** One `api_audit` row of the reference model. Keys are compared by file
  * name ([[AuditData.keyName]]): the store holds whatever path the envelope
  * arrived under, which for streamed envelopes is a file URI.
  */
final case class Rec(
    txn: String,
    app: Option[String] = None,
    endpoint: Option[String] = None,
    workflow: Option[String] = None,
    action: Option[String] = None,
    status: Option[Int] = None,
    ts: Option[Long] = None,
    req: Option[String] = None,
    resp: Option[String] = None) {

  /** The program's merge: null-skipping `max` per field. */
  def merge(o: Rec): Rec = {
    def mx[T: Ordering](a: Option[T], b: Option[T]) = (a ++ b).maxOption
    Rec(txn, mx(app, o.app), mx(endpoint, o.endpoint), mx(workflow, o.workflow),
      mx(action, o.action), mx(status, o.status), mx(ts, o.ts), mx(req, o.req),
      mx(resp, o.resp))
  }

  def dt: String = ts.fold(IngestJob.PendingDt)(AuditData.day)

  def field(c: String): Option[Any] = c match {
    case "app_id" => app
    case "endpoint" => endpoint
    case "workflow_id" => workflow
    case "action" => action
    case "status_code" => status
    case "transaction_id" => Some(txn)
  }
}

/** One envelope as the middleware would land it. `rec` is its contribution
  * to the store; a malformed envelope has none.
  */
final case class Envelope(name: String, json: String, rec: Option[Rec])

/** Traffic settings of the audit workloads. */
final case class AuditTraffic(
    historyRows: Int,
    historyDays: Int,
    backlog: Int,
    oooShare: Double,
    dupShare: Double,
    badShare: Double,
    appSkew: Double) {
  def toMap: Map[String, Any] = Map("history_rows" -> historyRows,
    "history_days" -> historyDays, "backlog_txns" -> backlog,
    "out_of_order_share" -> oooShare, "duplicate_share" -> dupShare,
    "malformed_share" -> badShare, "app_key_zipf" -> appSkew)
}

/** Zipf(s) sampler over `0 until n`. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = (1 to n).map(i => 1.0 / math.pow(i, s))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  def draw(rng: Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** Seeded generator of audit envelopes, history and search filters. */
final class AuditData(traffic: AuditTraffic, seed: Long) {
  import AuditData._

  private val appZipf = new Zipf(Apps.size, traffic.appSkew)
  private val endpointZipf = new Zipf(Endpoints.size, 0.8)

  private def status(rng: Random): Int = {
    var r = rng.nextInt(Statuses.map(_._2).sum)
    Statuses.find { case (_, w) => r -= w; r < 0 }.get._1
  }

  /** Request + response envelopes of one complete transaction. */
  def transaction(rng: Random, txn: String, tsMs: Long, dir: String): (Envelope, Envelope) = {
    val app = Apps(appZipf.draw(rng))
    val ep = Endpoints(endpointZipf.draw(rng))
    val wf = Workflows(rng.nextInt(Workflows.size))
    val act = Actions(rng.nextInt(Actions.size))
    val st = status(rng)
    val reqName = s"$dir$txn-request.json"
    val respName = s"$dir$txn-response.json"
    val req = Envelope(reqName,
      s"""{"transactionId":"$txn","appId":"$app","url":"$ep","workflowId":"$wf","action":"$act","timestamp":"${iso(tsMs)}"}""",
      Some(Rec(txn, Some(app), Some(ep), Some(wf), Some(act), None, Some(tsMs),
        Some(keyName(reqName)), None)))
    val resp = Envelope(respName, s"""{"transactionId":"$txn","statusCode":$st}""",
      Some(Rec(txn, status = Some(st), resp = Some(keyName(respName)))))
    (req, resp)
  }

  /** Prior days of complete transactions, one sequence per day, oldest
    * first. Keys look like `audit/<day>/<txn>-request.json`.
    */
  lazy val history: Seq[Seq[Envelope]] = {
    val rng = new Random(seed * 31 + 1)
    val perDay = traffic.historyRows / traffic.historyDays
    (0 until traffic.historyDays).map { d =>
      val dayStart = Day0Ms + d * DayMs
      val times = Seq.fill(perDay)(dayStart + (rng.nextDouble() * (DayMs - 1)).toLong).sorted
      times.zipWithIndex.flatMap { case (t, i) =>
        val (q, r) = transaction(rng, f"h$d%02d-$i%06d", t, s"audit/${day(t)}/")
        Seq(q, r)
      }
    }
  }

  /** The backlog of the day after the history, in landing order: near
    * monotone request timestamps; a share of responses landing before their
    * request; redelivered duplicates; malformed envelopes. File names carry
    * the landing position so duplicates get their own file.
    */
  lazy val backlog: Seq[Envelope] = {
    val rng = new Random(seed * 31 + 2)
    val dayStart = Day0Ms + traffic.historyDays * DayMs
    val step = DayMs / 2 / math.max(1, traffic.backlog)
    val landings = Seq.newBuilder[(Double, Envelope)]
    var t = dayStart + DayMs / 4
    for (i <- 0 until traffic.backlog) {
      t += step / 2 + (rng.nextDouble() * step).toLong
      val (q, r) = transaction(rng, f"b$i%06d", t, "")
      val gap = 1 + rng.nextInt(40)
      val respAt = if (rng.nextDouble() < traffic.oooShare) i - gap else i + gap
      landings += ((i.toDouble, q))
      landings += ((respAt + 0.5, r))
      for (e <- Seq((i.toDouble, q), (respAt + 0.5, r)))
        if (rng.nextDouble() < traffic.dupShare)
          landings += ((e._1 + 5 + rng.nextInt(200) + 0.25, e._2))
      if (rng.nextDouble() < traffic.badShare * 2)
        landings += ((i + 0.75, Envelope(s"bad$i-request.json",
          s"""{"transactionId":"b$i","appId":""", None)))
    }
    landings.result().sortBy(_._1).zipWithIndex.map { case ((_, e), pos) =>
      val name = f"$pos%06d-${e.name}"
      e.copy(name = name, rec = e.rec.map(r => r.copy(
        req = r.req.map(_ => name), resp = r.resp.map(_ => name))))
    }
  }

  /** Filter sets of the search mix: 0-3 equality filters over the
    * reference's filterable columns, drawn with the app-key skew.
    */
  def filterCatalog(n: Int): IndexedSeq[Map[String, Any]] = {
    val rng = new Random(seed * 31 + 3)
    IndexedSeq.fill(n) {
      val cols = rng.shuffle(Seq("app_id", "status_code", "endpoint",
        "workflow_id", "action")).take(rng.nextInt(4))
      cols.map {
        case c @ "app_id" => c -> Apps(appZipf.draw(rng))
        case c @ "status_code" => c -> status(rng)
        case c @ "endpoint" => c -> Endpoints(endpointZipf.draw(rng))
        case c @ "workflow_id" => c -> Workflows(rng.nextInt(Workflows.size))
        case c => c -> Actions(rng.nextInt(Actions.size))
      }.toMap[String, Any]
    }.distinct
  }
}

object AuditData {
  val Apps: IndexedSeq[String] = (0 until 24).map(i => f"app-$i%02d")
  val Endpoints: IndexedSeq[String] = (0 until 16).map(i => s"/api/v1/r$i")
  val Workflows: IndexedSeq[String] = (0 until 10).map(i => s"wf-$i")
  val Actions: IndexedSeq[String] =
    IndexedSeq("create", "read", "update", "delete", "list", "export")
  val Statuses: Seq[(Int, Int)] =
    Seq(200 -> 70, 201 -> 10, 400 -> 8, 404 -> 6, 500 -> 4, 503 -> 2)
  val Day0Ms = 1767225600000L // 2026-01-01T00:00:00Z
  val DayMs = 86400000L

  def iso(ms: Long): String = Instant.ofEpochMilli(ms).toString
  def day(ms: Long): String = iso(ms).take(10)
  def keyName(k: String): String = k.substring(k.lastIndexOf('/') + 1)

  /** Envelope frame in the shape the file source produces (`rawSchema` +
    * `srcKey`), for feeding `IngestJob.processBatch` directly.
    */
  def frame(spark: SparkSession, envs: Seq[Envelope]): DataFrame = {
    val schema = StructType(IngestJob.rawSchema.fields :+ StructField("srcKey", StringType))
    val rows = envs.map { e =>
      val r = e.rec.get
      Row(r.txn, r.app.orNull, r.endpoint.orNull, null, r.workflow.orNull,
        r.action.orNull, r.ts.map(iso).orNull, r.status.map(Int.box).orNull, null,
        e.name)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Reference merge of `recs` over `base`. */
  def mergeAll(base: Map[String, Rec], recs: Iterable[Rec]): Map[String, Rec] =
    recs.foldLeft(base)((m, r) => m.updated(r.txn, m.get(r.txn).fold(r)(_.merge(r))))

  /** Reference search: equality filters, newest first (nulls last), ties
    * by transaction id descending, first `limit`.
    */
  def search(rows: Iterable[Rec], filters: Map[String, Any], limit: Int = 100): Seq[Rec] =
    rows.filter(r => filters.forall { case (c, v) => r.field(c).contains(v) })
      .toSeq
      .sortBy(r => (r.ts.isEmpty, -r.ts.getOrElse(0L), r.txn))(
        Ordering.Tuple3(Ordering.Boolean, Ordering.Long, Ordering.String.reverse))
      .take(limit)

  /** A store row as the program returns it, in the model's terms. */
  def fromRow(r: Row): Rec = {
    def s(c: String) = Option(r.getAs[String](c))
    Rec(r.getAs[String]("transaction_id"), s("app_id"), s("endpoint"),
      s("workflow_id"), s("action"), Option(r.getAs[Integer]("status_code")).map(_.intValue),
      Option(r.getAs[java.sql.Timestamp]("timestamp")).map(_.getTime),
      s("request_s3_key").map(keyName), s("response_s3_key").map(keyName))
  }
}
