package graftbench

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{CorpusReleasePipeline, CtrAlerts, DailyPipeline, Report, Similarity}
import graft.sources.{BqStyleWriter, Tables}
import graft.streaming.EventStreamJob

/** One benchmark workload: how it makes its inputs from the seed, how
  * it warms up, the reference it checks against, and its load loop.
  * An operation that returns a wrong result throws, and counts as
  * failed. */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  def seed: Long = ctx.cfg.seed
  /** Writes the seeded inputs (unless `--data` names existing ones). */
  def generate(): Unit
  /** Light warm-up, part of set-up. */
  def warm(): Unit
  /** The reference outputs later operations are checked against. */
  def reference(): Unit
  def measure(deadline: Long): Seq[Sample]
  /** End-of-run output checks; failures go to `ctx.fail`. */
  def finish(): Unit
  /** Layer micro-measures for the traced run. */
  def probes(): Seq[(String, Double, String)] = Seq.empty

  protected def input(table: String): String = s"${ctx.dir}/$table.parquet"

  /** Median wall time in ms of `n` calls of `f`. */
  protected def timeMs(n: Int)(f: => Any): Double =
    Stats.median((0 until n).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    })
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "nightly_backfill" => new NightlyBackfill(ctx)
    case "corpus_release" => new CorpusRelease(ctx)
    case "dashboard_mix" => new DashboardMix(ctx)
    case "ctr_stream" => new CtrStream(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** `events` with `ts` as a timestamp whichever way the file stores it. */
  def rawEvents(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.parquet(path)
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw.withColumn("ts", col("ts").cast("timestamp"))
  }

  /** Alert lines per app group, computed independently of CtrAlerts:
    * trailing-7-day vs report-day CTR per user, |change| > 25 %. */
  def expectedAlerts(spark: SparkSession, eventsPath: String): Map[String, Long] = {
    rawEvents(spark, eventsPath).createOrReplaceTempView("oracle_events")
    spark.sql(
      """WITH d AS (
        |  SELECT to_date(ts) AS day, user_id,
        |         CASE WHEN event_type = 'click' THEN 1L ELSE 0L END AS c,
        |         CASE WHEN event_type = 'view' THEN 1L ELSE 0L END AS v
        |  FROM oracle_events),
        |r AS (SELECT max(day) AS rd FROM d),
        |a AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN day < rd THEN c END) AS DOUBLE) /
        |      nullif(CAST(sum(CASE WHEN day < rd THEN v END) AS DOUBLE), 0.0) AS pre,
        |    CAST(sum(CASE WHEN day = rd THEN c END) AS DOUBLE) /
        |      nullif(CAST(sum(CASE WHEN day = rd THEN v END) AS DOUBLE), 0.0) AS today
        |  FROM d CROSS JOIN r
        |  WHERE day BETWEEN date_sub(rd, 7) AND rd
        |  GROUP BY user_id)
        |SELECT concat('app_', CAST(user_id % 5 AS STRING)) AS app, count(*) AS n
        |FROM a
        |WHERE abs((today - pre) / nullif(pre, 0.0) * 100) > 25
        |GROUP BY 1""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Report rows per ISO date, computed independently of Report. */
  def expectedReportRowsByDate(spark: SparkSession, lineitemPath: String): Map[String, Long] =
    spark.read.parquet(lineitemPath)
      .filter(col("l_returnflag").isin("A", "R"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM-dd")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Order-insensitive fingerprint of a result. */
  def fingerprint(rows: Array[Row]): (Int, Int) =
    (rows.length, scala.util.hashing.MurmurHash3.unorderedHash(rows.toSeq.map(_.toString)))
}

/** Nightly ad-report ETL: DailyPipeline.run, re-run into the same
  * output directory so every run after the first goes through the
  * idempotent dynamic-overwrite warehouse load. */
final class NightlyBackfill(ctx: Ctx) extends Workload(ctx) {
  val LineitemRows = 20000L
  val ShipDays = 60
  val EventRows = 20000L
  val EventDays = 10
  val Users = 200L
  private var byDate = Map.empty[String, Long]
  private var alerts = Map.empty[String, Long]
  private def expectedRows = byDate.values.sum
  private def outDir = s"${ctx.out}/nightly"

  def generate(): Unit = {
    if (ctx.cfg.data.isEmpty) {
      val g = new Gen(spark, seed)
      g.lineitem(input("lineitem"), LineitemRows, ShipDays)
      g.events(input("events"), EventRows, EventDays, Users)
    }
  }

  def warm(): Unit = {
    Tables.lineitem(spark, ctx.dir).count()
    Tables.events(spark, ctx.dir).count()
  }

  def reference(): Unit = {
    byDate = Workload.expectedReportRowsByDate(spark, input("lineitem"))
    alerts = Workload.expectedAlerts(spark, input("events"))
    // the first run writes the tables later runs overwrite; two runs
    // leave the window no colder than its neighbours
    runChecked()
    runChecked()
  }

  private def runChecked(): Unit = {
    val r = Trace.span("operators", "DailyPipeline.run")(DailyPipeline.run(spark, ctx.dir, outDir))
    require(r.reportRows == expectedRows, s"report rows ${r.reportRows} != $expectedRows")
    require(r.alertGroups == alerts.size, s"alert groups ${r.alertGroups} != ${alerts.size}")
  }

  def measure(deadline: Long): Seq[Sample] =
    ClosedLoop.run(ctx, 1, deadline) { (_, _) => runChecked(); "daily_pipeline" }

  def finish(): Unit = {
    val wh = new java.io.File(s"$outDir/warehouse")
    val parts = Option(wh.listFiles).toSeq.flatten.count(_.getName.startsWith("date="))
    ctx.check(parts == byDate.size, s"warehouse partitions $parts != ${byDate.size}")
    val rows = spark.read.parquet(wh.getPath).count()
    ctx.check(rows == expectedRows, s"warehouse rows after re-runs $rows != $expectedRows")
    val csvRows = spark.read.option("header", "true").csv(s"$outDir/csv").count()
    ctx.check(csvRows == expectedRows, s"csv rows $csvRows != $expectedRows")
  }

  override def probes(): Seq[(String, Double, String)] = Seq(
    ("sources.open_ms", timeMs(9) { Tables.lineitem(spark, ctx.dir); Tables.events(spark, ctx.dir) } / 2, "ms"),
    ("sources.files_written", Gen.filesUnder(outDir).size.toDouble, "count"),
    ("functions.variant_ns_per_row", Probes.variantNsPerRow(spark, input("events")), "ns/row"))
}

/** LLM corpus release: CorpusReleasePipeline.run over seeded documents;
  * every run must reproduce the reference run's funnel exactly. */
final class CorpusRelease(ctx: Ctx) extends Workload(ctx) {
  val Docs = 3000L
  private var ref: CorpusReleasePipeline.RunResult = _
  private def outDir = s"${ctx.out}/corpus"

  def generate(): Unit =
    if (ctx.cfg.data.isEmpty) new Gen(spark, seed).documents(input("documents"), Docs)

  def warm(): Unit = Tables.documents(spark, ctx.dir).count()

  def reference(): Unit = {
    ref = run()
    val f = ref.funnel
    val n0 = spark.read.parquet(input("documents")).count()
    require(f.size == 5 && f.head.n_in == n0, s"funnel must start at the $n0 input docs: $f")
    f.foreach(s => require(s.n_removed >= 0 && s.n_out == s.n_in - s.n_removed, s"stage invariant: $s"))
    f.take(4).sliding(2).foreach { case Seq(a, b) =>
      require(b.n_in == a.n_out, s"stage ${b.stage} must start where ${a.stage} ended") }
    require(f(4).n_in == f.head.n_in && f(4).n_out == f(3).n_out, s"total row: ${f(4)}")
    require(f(3).n_out > 0 && ref.nPackedSeqs > 0, "release must not be empty")
  }

  private def run(): CorpusReleasePipeline.RunResult =
    Trace.span("operators", "CorpusReleasePipeline.run")(CorpusReleasePipeline.run(spark, ctx.dir, outDir))

  def measure(deadline: Long): Seq[Sample] =
    ClosedLoop.run(ctx, 1, deadline) { (_, _) =>
      val r = run()
      require(r.funnel == ref.funnel, s"funnel ${r.funnel} != reference ${ref.funnel}")
      require(r.splitCounts == ref.splitCounts && r.nPackedSeqs == ref.nPackedSeqs,
        s"split/pack ${r.splitCounts}/${r.nPackedSeqs} != ${ref.splitCounts}/${ref.nPackedSeqs}")
      "corpus_release"
    }

  def finish(): Unit = {
    val released = spark.read.parquet(s"$outDir/release").count()
    ctx.check(released == ref.funnel(3).n_out, s"release rows $released != ${ref.funnel(3).n_out}")
  }

  override def probes(): Seq[(String, Double, String)] =
    Seq(("sources.open_ms", timeMs(9)(Tables.documents(spark, ctx.dir)), "ms"),
      ("sources.files_written", Gen.filesUnder(outDir).size.toDouble, "count")) ++
      Probes.textKernels(spark, input("documents"))
}

/** Interactive report traffic: closed-loop clients issuing a seeded
  * mix of short reference-surface queries plus single-day warehouse
  * reloads. Every query result must match the fingerprint of a
  * single-client reference pass. */
final class DashboardMix(ctx: Ctx) extends Workload(ctx) {
  val LineitemRows = 20000L
  val ShipDays = 60
  val Orders = 5000L
  val Customers = 500L
  val EventRows = 20000L
  val EventDays = 10
  val Users = 200L
  val Vectors = 1000L
  val clients: Int = math.max(1, math.min(3, ctx.cfg.cpus - 1))

  private lazy val allowlist: Seq[Long] =
    new scala.util.Random(seed).shuffle((0L until Users).toList).take(60).sorted

  private def queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "report_flatten" -> (Report.reportFlatten(_, _)),
    "variant_extract" -> (Report.variantExtract(_, _)),
    "earnings_usd" -> (Report.earningsUsd(_, _)),
    "monthly_rollup" -> (Report.monthlyRollup(_, _)),
    "ctr_by_group" -> (CtrAlerts.ctrByGroup(_, _)),
    "ctr_spike" -> (CtrAlerts.ctrSpike(_, _)),
    "ctr_spike_scoped" -> ((s, d) => CtrAlerts.ctrSpikeScoped(s, d, allowlist)),
    "distinct_units" -> (CtrAlerts.distinctUnits(_, _)),
    "alert_report" -> (CtrAlerts.alertReport(_, _)),
    "top_customers" -> (Report.topCustomers(_, _)),
    "knn_topk" -> (Similarity.knnTopk(_, _)))

  private var expected = Map.empty[String, (Int, Int)]
  private var byDate = Map.empty[String, Long]
  private var dates = IndexedSeq.empty[String]
  private val reloaded = new java.util.concurrent.ConcurrentHashMap[(Int, String), java.lang.Boolean]()
  /** Each client deals its requests from its own seeded shuffles of a
    * deck holding every query once and one reload (1 in 12), so every
    * run issues the same mix and the seed only changes the order. */
  private lazy val rngs = (0 until clients).map(c => new scala.util.Random(seed * 1000003L + c))
  private lazy val decks = rngs.map { rnd =>
    Iterator.continually(rnd.shuffle((None +: queries.map(Some(_))).toVector)).flatten
  }

  def generate(): Unit = {
    if (ctx.cfg.data.isEmpty) {
      val g = new Gen(spark, seed)
      g.lineitem(input("lineitem"), LineitemRows, ShipDays)
      g.orders(input("orders"), LineitemRows / 4, Customers, ShipDays)
      g.customer(input("customer"), Customers)
      g.events(input("events"), EventRows, EventDays, Users)
      g.embeddings(input("embeddings"), Vectors)
    }
  }

  def warm(): Unit =
    Seq("lineitem", "orders", "customer", "events", "embeddings")
      .foreach(t => Tables(spark, ctx.dir, t).count())

  def reference(): Unit = {
    expected = queries.map { case (name, q) => name -> Workload.fingerprint(q(spark, ctx.dir).collect()) }.toMap
    byDate = Workload.expectedReportRowsByDate(spark, input("lineitem"))
    dates = byDate.keys.toIndexedSeq.sorted
  }

  private def query(name: String, q: (SparkSession, String) => DataFrame): Unit = {
    val df = Trace.span("operators", "build")(q(spark, ctx.dir))
    Trace.span("operators", "plan")(df.queryExecution.executedPlan)
    val rows = Trace.span("engine", "exec")(df.collect())
    val fp = Workload.fingerprint(rows)
    require(fp == expected(name), s"$name: result $fp != reference ${expected(name)}")
  }

  private def reload(client: Int, iso: String): Unit = {
    val day = Trace.span("operators", "build")(
      Report.dailyReport(spark, ctx.dir).filter(col("date") === iso))
    Trace.span("sources", "reload")(BqStyleWriter.load(day, s"${ctx.out}/wh$client",
      s"daily$$${iso.replace("-", "")}", BqStyleWriter.WriteTruncate, Some("date")))
    reloaded.put((client, iso), true)
  }

  def measure(deadline: Long): Seq[Sample] =
    ClosedLoop.run(ctx, clients, deadline) { (c, _) =>
      decks(c).next() match {
        case None =>
          reload(c, dates(rngs(c).nextInt(dates.size)))
          "reload"
        case Some((name, q)) =>
          query(name, q)
          name
      }
    }

  def finish(): Unit = reloaded.keySet.asScala.foreach { case (c, iso) =>
    val n = spark.read.parquet(s"${ctx.out}/wh$c/daily/date=$iso").count()
    ctx.check(n == byDate(iso), s"client $c reload of $iso holds $n rows, expected ${byDate(iso)}")
  }

  override def probes(): Seq[(String, Double, String)] = Seq(
    ("sources.open_ms", timeMs(9) { Seq("lineitem", "orders", "customer", "events", "embeddings")
      .foreach(t => Tables(spark, ctx.dir, t)) } / 5, "ms"),
    ("sources.files_written", Gen.filesUnder(ctx.out).size.toDouble, "count"),
    ("functions.variant_ns_per_row", Probes.variantNsPerRow(spark, input("events")), "ns/row")) ++
    Probes.cosine(spark, input("embeddings"))
}

/** Windowed CTR over a stream replayed on a fixed schedule (open loop):
  * batch i of events is due at start + i × interval whatever the
  * engine is doing, and is timed from its due time to the committed
  * micro-batch that contains it. The final streamed result must equal
  * batch windowedCtr over the same events. */
final class CtrStream(ctx: Ctx) extends Workload(ctx) {
  val IntervalMs = 1200L
  val EventsPerBatch = 400
  val BatchSpanMinutes = 12L
  val Users = 300
  val WarmBatches = 8
  private var added = Vector.empty[(Timestamp, Long, String)]
  private var late = 0L
  private var listener: StreamListener = _
  private var queryId: java.util.UUID = _
  private var generatorLateMs = Seq.empty[Double]
  private val results = new java.util.concurrent.ConcurrentHashMap[(Long, Long), (Long, Long, Option[Double])]()
  private var runs = 0

  /** Events of batch `i`, in event-time order; `salt` keeps warm-up
    * data apart from measured data. */
  private def batch(i: Int, salt: Long): Seq[(Timestamp, Long, String)] = {
    val rnd = new scala.util.Random(seed * 31L + salt * 1000003L + i)
    val spanMicros = BatchSpanMinutes * 60L * 1000000L
    (0 until EventsPerBatch).map { _ =>
      Gen.epochMicros + i * spanMicros + (rnd.nextDouble() * spanMicros).toLong
    }.sorted.map { t =>
      val kind = rnd.nextInt(100)
      (new Timestamp(t / 1000L), rnd.nextInt(Users).toLong,
        if (kind < 70) "view" else if (kind < 85) "click" else "purchase")
    }
  }

  /** Batches are made from the seed as they are sent; set-up only
    * registers the progress listener on the new session. */
  def generate(): Unit = {
    listener = new StreamListener
    spark.streams.addListener(listener)
  }

  /** A throw-away stream of two micro-batches on separate data. */
  def warm(): Unit = {
    val (q, in) = start(_.collect())
    (0 until 2).foreach { i => in.addData(batch(i, salt = 7L)); q.processAllAvailable() }
    q.stop()
  }

  private var query: org.apache.spark.sql.streaming.StreamingQuery = _
  private var input: MemoryStream[(Timestamp, Long, String)] = _
  private var sent = 0

  private def send(i: Int): Unit = {
    val b = batch(i, salt = 0L)
    input.addData(b)
    added ++= b
    sent += 1
  }

  /** Starts the measured query and warms it with its first batches,
    * sent one at a time; the window continues the same stream. */
  def reference(): Unit = {
    val (q, in) = start { b =>
      b.collect().foreach { r =>
        results.put((r.getTimestamp(0).getTime, r.getLong(1)),
          (r.getLong(2), r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Double])))
      }
    }
    query = q
    input = in
    queryId = q.id
    (0 until WarmBatches).foreach { i => send(i); q.processAllAvailable() }
  }

  private def start(sink: Dataset[Row] => Unit)
      : (org.apache.spark.sql.streaming.StreamingQuery, MemoryStream[(Timestamp, Long, String)]) = {
    val session = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = session.sqlContext
    import session.implicits._
    val in = MemoryStream[(Timestamp, Long, String)]
    runs += 1
    val q = EventStreamJob.windowedCtr(in.toDF().toDF("ts", "user_id", "event_type"))
      .writeStream.outputMode("update")
      .option("checkpointLocation", s"${ctx.cfg.work}/checkpoints/ctr-$runs")
      .foreachBatch((b: Dataset[Row], _: Long) => sink(b))
      .start()
    (q, in)
  }

  def measure(deadline: Long): Seq[Sample] = {
    val n = math.max(1, ((deadline - System.nanoTime()) / (IntervalMs * 1000000L)).toInt)
    val first = sent
    val start0 = System.nanoTime()
    val due = (0 until n).map(i => start0 + i * IntervalMs * 1000000L)
    generatorLateMs = (0 until n).map { i =>
      val wait = due(i) - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      val at = System.nanoTime()
      Trace.operation(i.toLong, traced = ctx.cfg.trace && i % 2 == 0) {
        Trace.span("streaming", "addData")(send(first + i))
      }
      (at - due(i)) / 1e6
    }
    val stopBy = System.nanoTime() + 30L * 1000000000L
    while (committedOffset < sent - 1 && System.nanoTime() < stopBy) Thread.sleep(5)
    query.stop()
    // MemoryStream offset k is the k-th batch sent (0-based)
    val commits = progress.map(p => (p._1, endOffset(p._2))).sortBy(_._1)
    (0 until n).map { i =>
      val at = commits.find(_._2 >= first + i).map(_._1)
      Sample(i.toLong, "batch", due(i), at.getOrElse(System.nanoTime()), at.isDefined,
        traced = ctx.cfg.trace && i % 2 == 0)
    }
  }

  private def progress = listener.progress.asScala.toSeq.filter(_._2.progress.id == queryId)
  private def endOffset(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Long =
    e.progress.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(o => "-?\\d+".r.findFirstIn(o)).map(_.toLong).getOrElse(-1L)
  private def committedOffset: Long = progress.map(p => endOffset(p._2)).maxOption.getOrElse(-1L)

  def finish(): Unit = {
    val session = spark
    import session.implicits._
    late = progress.flatMap(_._2.progress.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    ctx.check(late == 0, s"$late in-order rows dropped as late")
    val batchResult = EventStreamJob.windowedCtr(added.toDF("ts", "user_id", "event_type"))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Double]))).toMap
    ctx.check(batchResult.nonEmpty && results.asScala.toMap == batchResult,
      s"streamed windowed CTR (${results.size} windows) != batch windowedCtr (${batchResult.size})")
  }

  override def probes(): Seq[(String, Double, String)] = {
    val ps = progress.map(_._2.progress).filter(_.numInputRows > 0)
    def dur(k: String) = Stats.median(ps.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue)))
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      Stats.median(ps.flatMap(_.stateOperators.headOption.map(f)))
    val commits = progress.map(p => endOffset(p._2))
    // adds merged into each micro-batch beyond the first
    val merged = commits.sorted.sliding(2).collect { case Seq(a, b) if b > a => (b - a - 1).toDouble }.toSeq
    Seq(
      ("streaming.trigger_ms", dur("triggerExecution"), "ms"),
      ("streaming.add_batch_ms", dur("addBatch"), "ms"),
      ("streaming.state_commit_ms", state(_.commitTimeMs.toDouble), "ms"),
      ("streaming.state_rows", state(_.numRowsTotal.toDouble), "count"),
      ("streaming.state_bytes", state(_.memoryUsedBytes.toDouble), "bytes"),
      ("streaming.backlog_batches", if (merged.isEmpty) 0.0 else merged.sum / merged.size, "count"),
      ("streaming.late_rows_dropped", late.toDouble, "count"),
      ("streaming.generator_late_ms", Stats.pct(generatorLateMs, 0.9), "ms"))
  }
}
