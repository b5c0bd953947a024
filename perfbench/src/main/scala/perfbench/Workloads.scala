package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

import graft.catalog.Catalog
import graft.mvcc.LogTable
import graft.streaming.EventStreams

/** A workload is a fixed list of client operations. `check` is the
  * set-up pass: it warms the JVM, builds every layout and checks every
  * answer. `pass` is one pass over the same operations (order and inputs
  * drawn from the seed). */
abstract class Workload(val h: Harness) {
  def check(dataDir: String): Unit
  def pass(dataDir: String, p: Int): Unit
  /** Untimed passes before the timed ones, and the timed passes a run
    * makes at least: fixed counts, so every run reports the same stage of
    * JIT warm-up. */
  def warmPasses: Int = 0
  def minPasses: Int = 2
  /** Workload-specific per-layer values from the traced and the
    * untraced timed operations. */
  def layerMetrics(traced: Seq[OpResult], untraced: Seq[OpResult]): Map[String, Double] = Map.empty

  protected val spark: org.apache.spark.sql.SparkSession = h.spark
  protected def t: Tracer = h.tracer
}

/** Runs its parts one after another, in set-up and in every pass. */
final class Composite(h: Harness, parts: Seq[Workload]) extends Workload(h) {
  def check(dataDir: String): Unit = parts.foreach(_.check(dataDir))
  def pass(dataDir: String, p: Int): Unit = parts.foreach(_.pass(dataDir, p))
  override def layerMetrics(traced: Seq[OpResult], untraced: Seq[OpResult]): Map[String, Double] =
    parts.map(_.layerMetrics(traced, untraced)).reduce(_ ++ _)
}

/** Registered queries through `SparkEntry.queries`, each built, planned
  * and executed with `queryExecution.toRdd.count()`, in a seed-permuted
  * order per pass: the `olap` queries (the reference's operator surface)
  * and the `curate` queries (heavy curation operators). */
final class QueryWorkload(h: Harness, olap: Seq[String], curate: Seq[String],
    expected: Map[String, Digest.Result], tableRows: Map[String, Int],
    baseline: Map[String, (String, Double)]) extends Workload(h) {

  /** A pass takes ~3 s, and its CPU time still falls by a tenth a pass
    * over the first three after set-up (mostly `x64_curate`). */
  override def warmPasses: Int = 2
  override def minPasses: Int = 4

  /** Set-up and every timed pass run each query once. */
  private def order(p: Int): Seq[String] = new scala.util.Random(h.seed * 7919L + p)
    .shuffle(olap ++ curate)

  private def kind(q: String): String = if (olap.contains(q)) "olap" else "curate"

  private def build(q: String, dir: String, id: Int): DataFrame =
    t.span("ops.construct", id)(graft.SparkEntry.queries(q)(spark, dir))

  def check(dataDir: String): Unit = order(-1).foreach { q =>
    h.op(q, kind(q)) { id =>
      val got = t.span("engine.action", id)(Digest.of(build(q, dataDir, id)))
      val want = expected.get(q)
      if (!want.contains(got)) System.err.println(s"[perfbench] $q digest $got, expected $want")
      want.contains(got)
    }
    h.sweep()
  }

  def pass(dataDir: String, p: Int): Unit = order(p).foreach { q =>
    h.op(q, kind(q)) { id =>
      val df = build(q, dataDir, id)
      val n = t.span("engine.action", id)(df.queryExecution.toRdd.count())
      t.plan(id, df)
      expected.get(q).exists(_.rows == n)
    }
    h.sweep()
  }

  /** Per-query median latency over the untraced passes, then the median
    * per query family; and `olap.baseline_x`, the geometric mean over the
    * BASELINE.md-mapped queries of (our ns per input row) / (the
    * reference's ns per row). */
  override def layerMetrics(traced: Seq[OpResult], untraced: Seq[OpResult]): Map[String, Double] = {
    def perQuery(qs: Seq[String]) =
      qs.flatMap(q => Some(untraced.filter(_.key == q).map(_.ms)).filter(_.nonEmpty).map(Stats.median))
    val baselineX = Stats.geomean(baseline.toSeq.flatMap { case (q, (table, refNsPerRow)) =>
      perQuery(Seq(q)).map(_ * 1e6 / tableRows(table) / refNsPerRow)
    })
    Map("olap.query_p50_ms" -> Stats.median(perQuery(olap)),
      "curate.query_p50_ms" -> Stats.median(perQuery(curate)), "olap.baseline_x" -> baselineX)
  }
}

/** The MVCC half of `ingest`: a seed-built transaction script over a
  * `LogTable`-layout log in a private catalog directory. Every read is checked against the
  * script's in-memory model of the committed rows. */
final class MvccWorkload(h: Harness, runDir: String, ordersRows: Int) extends Workload(h) {
  private val Threshold = 0.05
  private val schema = StructType(Seq(
    StructField("txn", LongType), StructField("op", StringType), StructField("rid", LongType),
    StructField("o_custkey", LongType), StructField("price_c", LongType),
    StructField("o_orderstatus", StringType)))
  import MvccWorkload._

  private var script: Seq[Step] = Nil
  // per-pass storage statistics, read after the pass's operations
  private val passStats = mutable.ArrayBuffer[Map[String, Double]]()

  /** The script depends on the seed and on the `orders` rows it starts
    * from; it is built once and replayed by every pass. */
  private def buildScript(dataDir: String): Seq[Step] = {
    val rnd = new scala.util.Random(h.seed)
    val orders = spark.read.parquet(s"$dataDir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), math.round(r.getDouble(2) * 100), r.getString(3))))
    val base = rnd.shuffle(orders.toSeq).take(math.min(600, orders.length))
    val live = mutable.LinkedHashSet[Long](base.map(_._1): _*)
    var nextRid = ordersRows.toLong + 1000000L
    val steps = mutable.ArrayBuffer[Step](Txn(1L, "commit", base, Nil))
    def pick(n: Int): Seq[Long] = rnd.shuffle(live.toSeq).take(n)
    def payload(): Payload =
      (rnd.nextInt(10000).toLong, 100000L + rnd.nextInt(49900000), Seq("F", "O", "P")(rnd.nextInt(3)))
    // the same shape for every seed (the seed draws rows and values):
    // an upsert and a delete that commit, a rollback, one left in flight
    val upsert = Txn(2L, "commit", pick(60).map(_ -> payload()) ++
      (0 until 20).map { _ => nextRid += 1; nextRid -> payload() }, Nil)
    live ++= upsert.ups.map(_._1)
    steps += upsert
    val del = Txn(3L, "commit", Nil, pick(30))
    live --= del.dels
    val rollback = Txn(4L, "rollback", pick(60).map(_ -> payload()), Nil)
    val inflight = Txn(5L, "inflight", pick(20).map(_ -> payload()), Nil)
    steps ++= Seq(del, rollback, inflight)
    steps += PointRead(pick(4) ++ upsert.ups.take(2).map(_._1) ++ del.dels.take(2) ++
      rollback.ups.take(2).map(_._1) ++ inflight.ups.take(2).map(_._1))
    steps += AggRead
    steps += MaybeCompact
    steps += AggRead
    steps.toSeq
  }

  private def rows(txn: Txn): DataFrame = {
    val data = txn.ups.map { case (rid, (c, p, s)) => Row(txn.txn, LogTable.Upsert, rid, c, p, s) } ++
      txn.dels.map(rid => Row(txn.txn, LogTable.Delete, rid, null, null, null)) ++
      (txn.kind match {
        case "commit" => Seq(Row(txn.txn, LogTable.Commit, null, null, null, null))
        case "rollback" => Seq(Row(txn.txn, LogTable.Rollback, null, null, null, null))
        case _ => Nil
      })
    spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
  }

  private def dirBytes(path: String): (Long, Int) = {
    val files = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    (files.map(_.length).sum, files.length)
  }

  def check(dataDir: String): Unit = {
    if (script.isEmpty) script = buildScript(dataDir)
    run(s"$runDir/mvcc/setup", traced = false)
  }

  def pass(dataDir: String, p: Int): Unit = run(s"$runDir/mvcc/pass$p", t.enabled)

  private def run(dir: String, traced: Boolean): Unit = {
    val cat = Catalog(spark, dir)
    cat.createNew("log", schema)
    val model = mutable.Map[Long, Payload]()
    var asOf = 0L
    var userBytes = 0L
    var written = 0L
    var compactions = 0
    var reclaimed = 0L
    def snap(): DataFrame = LogTable.snapshot(cat.table("log"), asOf)
    script.zipWithIndex.foreach {
      case (x: Txn, i) =>
        val before = dirBytes(cat.path("log"))._1
        h.op(s"txn$i", "commit") { id =>
          t.span("catalog.append", id)(cat.append("log", rows(x)))
          true
        }
        written += math.max(0L, dirBytes(cat.path("log"))._1 - before)
        userBytes += (x.ups.size + x.dels.size + 1) * 34L
        if (x.kind == "commit") {
          model ++= x.ups; model --= x.dels; asOf = x.txn
        }
      case (PointRead(rids), i) =>
        h.op(s"read$i", "read") { id =>
          val df = t.span("ops.construct", id)(
            snap().filter(col("rid").isin(rids: _*)).select("rid", "o_custkey", "price_c", "o_orderstatus"))
          val got = t.span("engine.action", id)(df.collect())
            .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
          t.plan(id, df)
          got == rids.distinct.flatMap(r => model.get(r).map(r -> _)).toMap
        }
      case (AggRead, i) =>
        h.op(s"agg$i", "read") { id =>
          val df = t.span("ops.construct", id)(snap().agg(count(lit(1)), sum(col("price_c"))))
          val r = t.span("engine.action", id)(df.collect()).head
          t.plan(id, df)
          r.getLong(0) == model.size && r.getLong(1) == model.values.map(_._2).sum
        }
      case (MaybeCompact, i) =>
        h.op(s"compact$i", "maintain") { id =>
          val fire = t.span("mvcc.redundancy", id)(
            LogTable.shouldCompact(cat.table("log"), asOf, Threshold))
          if (fire) {
            reclaimed += t.span("catalog.compact", id)(cat.compactLog("log", asOf))
            compactions += 1
            written += dirBytes(cat.path("log"))._1
          }
          true
        }
    }
    if (traced) {
      val (logBytes, files) = dirBytes(cat.path("log"))
      val logRows = cat.table("log").count().toDouble
      val live = snap()
      live.coalesce(1).write.parquet(s"$dir/live.parquet")
      val liveBytes = dirBytes(s"$dir/live.parquet")._1.toDouble
      passStats += Map(
        "mvcc.space_amp" -> logBytes / liveBytes,
        "catalog.log_files" -> files.toDouble,
        "catalog.bytes_written_per_user_byte" -> written.toDouble / userBytes,
        "mvcc.log_rows_per_live_row" -> logRows / model.size,
        "mvcc.compactions" -> compactions.toDouble,
        "mvcc.entries_reclaimed" -> reclaimed.toDouble)
    }
  }

  override def layerMetrics(traced: Seq[OpResult], untraced: Seq[OpResult]): Map[String, Double] = {
    val stats = passStats.toSeq
    val keys = stats.headOption.map(_.keys).getOrElse(Nil)
    val perPass = keys.map(k => k -> Stats.median(stats.map(_(k)))).toMap
    def p50(kind: String) = Stats.median(untraced.filter(_.kind == kind).map(_.ms))
    perPass ++ Map("mvcc.read_p50_ms" -> p50("read"), "mvcc.commit_p50_ms" -> p50("commit"))
  }
}

object MvccWorkload {
  private type Payload = (Long, Long, String)

  private sealed trait Step
  private final case class Txn(txn: Long, kind: String, ups: Seq[(Long, Payload)],
      dels: Seq[Long]) extends Step
  private final case class PointRead(rids: Seq[Long]) extends Step
  private case object AggRead extends Step
  private case object MaybeCompact extends Step
}

/** The streaming half of `ingest`: fixed micro-batches of `events`
  * through `EventStreams.sessionCounts` from a memory source, with the
  * rows of each batch in a seed-drawn order. The final output must equal
  * the batch twin over the same rows. */
final class StreamWorkload(h: Harness, runDir: String) extends Workload(h) {
  private val Batches = 2
  private var evBatches: Seq[Seq[(Long, Long, String)]] = Nil
  private var evTwin: Digest.Result = _
  private val batchRows = mutable.Map[Int, Long]()
  private val progressNames = mutable.ArrayBuffer[String]()

  /** The batches and their batch twin, built once per run: the rows
    * are fixed per seed. */
  private def prepare(dataDir: String): Unit = {
    val rnd = new scala.util.Random(h.seed)
    val ev = graft.functions.EventTime.withNanos(
        spark.read.parquet(s"$dataDir/events.parquet").select("user_id", "ts", "event_type"))
      .orderBy("ts", "user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val n = math.ceil(ev.length.toDouble / Batches).toInt
    evBatches = ev.grouped(n).toSeq.map(rnd.shuffle(_))
    import spark.implicits._
    evTwin = Digest.of(EventStreams.sessionCounts(ev.toDF("user_id", "ts", "event_type")))
  }

  private def lastExecution(q: StreamingQuery) = q match {
    case w: StreamingQueryWrapper => w.streamingQuery.lastExecution
    case _ => null
  }

  def check(dataDir: String): Unit = {
    if (evTwin == null) prepare(dataDir)
    run("setup")
  }

  def pass(dataDir: String, p: Int): Unit = run(s"pass$p")

  private def run(tag: String): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val evIn = MemoryStream[(Long, Long, String)]
    val evName = s"pb_events_$tag"
    var query: Option[StreamingQuery] = None
    try {
      h.op("start", "start") { id =>
        val evDf = t.span("ops.construct", id)(
          EventStreams.sessionCounts(evIn.toDF().toDF("user_id", "ts", "event_type")))
        query = Some(t.span("streaming.start", id)(
          evDf.writeStream.format("memory").queryName(evName).outputMode(OutputMode.Complete)
            .option("checkpointLocation", s"$runDir/stream/$evName").start()))
        true
      }
      for (b <- 0 until Batches; q <- query) {
        h.op(s"events$b", "batch") { id =>
          evIn.addData(evBatches(b))
          t.span("streaming.batch", id)(q.processAllAvailable())
          t.plan(id, lastExecution(q))
          batchRows(id) = evBatches(b).size.toLong
          true
        }
      }
    } finally query.foreach(_.stop())
    if (t.enabled) progressNames += evName
    val ok = query.isDefined && Digest.of(spark.table(evName)) == evTwin
    spark.catalog.dropTempView(evName)
    h.verdict(ok, s"stream output vs batch twin")
  }

  override def layerMetrics(traced: Seq[OpResult], untraced: Seq[OpResult]): Map[String, Double] = {
    val prog = progressNames.toSeq.flatMap(t.progressOf).filter(_.rows > 0)
    def dur(k: String) = Stats.mean(prog.map(_.durations.getOrElse(k, 0L).toDouble))
    // state at the end of each traced pass
    val state = progressNames.toSeq.map(t.progressOf(_).lastOption.toSeq)
    val batches = traced.filter(_.kind == "batch")
    val rows = batches.map(b => batchRows.getOrElse(b.id, 0L)).sum
    Map(
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.get_batch_ms" -> dur("getBatch"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.state_rows" -> Stats.median(state.map(_.map(_.stateRows).sum.toDouble)),
      "streaming.state_mb" -> Stats.median(state.map(_.map(_.stateBytes).sum.toDouble)) / 1048576.0,
      "streaming.batch_p50_ms" -> Stats.median(untraced.filter(_.kind == "batch").map(_.ms)),
      "streaming.rows_per_s" -> rows / (batches.map(_.ms).sum / 1000.0))
  }
}
