package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextF, VariantF}
import graft.operators.TextAnalysis

/** Per-row cost of single kernels and functions, each measured as a
  * projection over the workload's generated input minus the same scan
  * without the kernel. */
object Probes {
  private val Reps = 5

  private def ms(f: => Any): Double =
    Stats.median((0 until Reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    })

  private def cached(df: DataFrame): (DataFrame, Long) = {
    val c = df.cache()
    (c, c.count())
  }

  private def nsPer(kernelMs: Double, baseMs: Double, n: Long): Double =
    math.max(0.0, kernelMs - baseMs) * 1e6 / math.max(1L, n)

  def variantNsPerRow(spark: SparkSession, eventsPath: String): Double = {
    val (ev, n) = cached(spark.read.parquet(eventsPath).select("props")
      .crossJoin(spark.range(10).toDF("rep")))
    try {
      val base = ms(ev.agg(sum(length(col("props")))).collect())
      val v = ms(ev.agg(sum(VariantF.getIntFromStruct(VariantF.parseVariant(col("props"))))).collect())
      nsPer(v, base, n)
    } finally ev.unpersist()
  }

  /** Text kernels reached through their SQL registration, plus the
    * quality-score function; over the corpus documents. */
  def textKernels(spark: SparkSession, docsPath: String): Seq[(String, Double, String)] = {
    graft.GraftFunctions.register(spark)
    val (docs, n) = cached(spark.read.parquet(docsPath).select("text")
      .crossJoin(spark.range(4).toDF("rep")))
    val (sets, m) = cached(spark.read.parquet(docsPath).orderBy("doc_id").limit(300)
      .select(expr("array_sort(shingle_hashes(text))").as("s")))
    try {
      docs.createOrReplaceTempView("probe_docs")
      sets.createOrReplaceTempView("probe_sets")
      def q(sql: String) = ms(spark.sql(sql).collect())
      val base = q("SELECT sum(length(text)) FROM probe_docs")
      val norm = q("SELECT sum(length(normalize_text(text))) FROM probe_docs")
      val shingle = q("SELECT sum(size(shingle_hashes(text))) FROM probe_docs")
      val minhash = q("SELECT sum(size(minhash_sig(shingle_hashes(text)))) FROM probe_docs")
      val quality = ms(docs.agg(sum(TextF.qualityScore(col("text"), TextAnalysis.Stopwords))).collect())
      val pairBase = q("SELECT sum(size(a.s) + size(b.s)) FROM probe_sets a CROSS JOIN probe_sets b")
      val inter = q("SELECT sum(sorted_intersect_size(a.s, b.s)) FROM probe_sets a CROSS JOIN probe_sets b")
      val textBytes = spark.sql("SELECT sum(octet_length(text)) FROM probe_docs").head().getLong(0)
      val hashes = spark.sql("SELECT sum(size(shingle_hashes(text))) FROM probe_docs").head().getLong(0)
      val setLongs = spark.sql("SELECT sum(size(s)) FROM probe_sets").head().getLong(0)
      Seq(
        ("plans.normalize_text_ns_per_row", nsPer(norm, base, n), "ns/row"),
        ("plans.shingle_hashes_ns_per_row", nsPer(shingle, base, n), "ns/row"),
        ("plans.minhash_sig_ns_per_row", nsPer(minhash, shingle, n), "ns/row"),
        ("plans.sorted_intersect_size_ns_per_pair", nsPer(inter, pairBase, m * m), "ns/pair"),
        // normalize + shingle read the text, minhash reads the hashes,
        // each intersect reads both sets
        ("plans.bytes_in", (2 * textBytes + 8 * hashes + 2 * 8 * setLongs * m).toDouble, "bytes"),
        ("functions.quality_score_ns_per_row", nsPer(quality, base, n), "ns/row"))
    } finally { docs.unpersist(); sets.unpersist() }
  }

  /** cosine_sim over all pairs of (up to) 1,000 embeddings. */
  def cosine(spark: SparkSession, embeddingsPath: String): Seq[(String, Double, String)] = {
    graft.GraftFunctions.register(spark)
    val (vs, m) = cached(spark.read.parquet(embeddingsPath).orderBy("vec_id").limit(1000)
      .select(col("embedding").cast("array<double>").as("e")))
    try {
      vs.createOrReplaceTempView("probe_vecs")
      val base = ms(spark.sql("SELECT sum(size(a.e) + size(b.e)) FROM probe_vecs a CROSS JOIN probe_vecs b").collect())
      val cos = ms(spark.sql("SELECT sum(cosine_sim(a.e, b.e)) FROM probe_vecs a CROSS JOIN probe_vecs b").collect())
      val floats = spark.sql("SELECT sum(size(e)) FROM probe_vecs").head().getLong(0)
      Seq(("plans.cosine_sim_ns_per_pair", nsPer(cos, base, m * m), "ns/pair"),
        ("plans.bytes_in", (2 * 4 * floats * m).toDouble, "bytes"))
    } finally vs.unpersist()
  }
}

/** Per-layer metrics of a traced run: engine counters of the traced
  * operations, SQL executions attributed to graft call sites, span
  * self times, and the workload's own probes. Every name in
  * [[Layers.Names]] is printed; a layer a workload does not reach reads 0.
  */
object Layers {
  val Names: Seq[(String, String)] = Seq(
    "sources.open_ms" -> "ms", "sources.write_csv_s" -> "s", "sources.write_jsonl_s" -> "s",
    "sources.write_warehouse_s" -> "s", "sources.reload_ms" -> "ms",
    "sources.files_written" -> "count", "sources.bytes_written" -> "bytes",
    "sources.input_bytes" -> "bytes", "sources.artifact_bytes_per_input_byte" -> "ratio",
    "operators.build_ms" -> "ms", "operators.plan_ms" -> "ms", "operators.exec_s" -> "s",
    "operators.jobs_per_op" -> "count",
    "nightly.report_s" -> "s", "nightly.alert_s" -> "s",
    "corpus.clean_s" -> "s", "corpus.dedup_s" -> "s", "corpus.decontaminate_s" -> "s",
    "corpus.mix_s" -> "s", "corpus.split_pack_s" -> "s",
    "plans.normalize_text_ns_per_row" -> "ns/row", "plans.shingle_hashes_ns_per_row" -> "ns/row",
    "plans.minhash_sig_ns_per_row" -> "ns/row", "plans.sorted_intersect_size_ns_per_pair" -> "ns/pair",
    "plans.cosine_sim_ns_per_pair" -> "ns/pair", "plans.bytes_in" -> "bytes",
    "functions.variant_ns_per_row" -> "ns/row", "functions.quality_score_ns_per_row" -> "ns/row",
    "streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.state_commit_ms" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_bytes" -> "bytes", "streaming.backlog_batches" -> "count",
    "streaming.late_rows_dropped" -> "count", "streaming.generator_late_ms" -> "ms",
    "engine.stages_per_op" -> "count", "engine.tasks_per_op" -> "count",
    "engine.task_cpu_s" -> "s", "engine.gc_s" -> "s", "engine.spill_bytes" -> "bytes",
    "engine.sched_wait_ms" -> "ms", "engine.shuffle_write_bytes" -> "bytes",
    "engine.task_skew" -> "ratio", "engine.busy_ratio" -> "ratio", "engine.process_cpu_s" -> "s",
    "trace.self_ms.op" -> "ms", "trace.self_ms.operators" -> "ms", "trace.self_ms.sources" -> "ms",
    "trace.self_ms.engine" -> "ms", "trace.self_ms.streaming" -> "ms",
    "trace.overhead_pct" -> "%")

  private val PipelineFrame = """\((DailyPipeline|CorpusReleasePipeline)\.scala:(\d+)\)""".r
  private val Marker = """\s*// (\d)\. .*""".r

  /** Line numbers of the numbered stage comments (`// 1. ...`) in a
    * pipeline's source: a job launched from a line at or after marker
    * k belongs to stage k. */
  private def markers(root: String, file: String): Seq[(Int, Int)] = {
    val f = new java.io.File(s"$root/src/main/scala/graft/operators/$file")
    if (!f.isFile) Seq.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (Marker(k), i) => (i + 1, k.toInt)
      }.toSeq finally src.close()
    }
  }

  /** Maps the call stack of a SQL execution to the graft call site it
    * came from, as a stage name. */
  def stageOf(root: String): String => String = {
    val daily = markers(root, "DailyPipeline.scala")
    val corpus = markers(root, "CorpusReleasePipeline.scala")
    def stageAt(ms: Seq[(Int, Int)], line: Int) =
      ms.filter(_._1 <= line).map(_._2).lastOption.getOrElse(0)
    details =>
      if (details.contains("graft.sources.BqStyleWriter$.load")) "sources.reload"
      else if (details.contains("graft.sources.Sinks$.writeCsvWithHeader")) "sources.write_csv"
      else if (details.contains("graft.sources.Sinks$.writeJsonl")) "sources.write_jsonl"
      else if (details.contains("graft.sources.Sinks$.idempotentDailyAppend")) "sources.write_warehouse"
      else PipelineFrame.findFirstMatchIn(details) match {
        case Some(m) if m.group(1) == "DailyPipeline" =>
          stageAt(daily, m.group(2).toInt) match {
            case 0 => "nightly.report"
            case k if k >= 3 => "nightly.alert"
            case _ => "other"
          }
        case Some(m) =>
          stageAt(corpus, m.group(2).toInt) match {
            case 0 | 1 => "corpus.clean"
            case 2 => "corpus.dedup"
            case 3 => "corpus.decontaminate"
            case 4 => "corpus.mix"
            case _ => "corpus.split_pack"
          }
        case None => "other"
      }
  }

  /** @param window wall-clock ms bounds of the measured window
    * @param cpuPerOp process CPU seconds per operation over the window */
  def metrics(ctx: Ctx, wl: Workload, engine: EngineListener, traced: Seq[Sample],
              untraced: Seq[Sample], window: (Long, Long),
              cpuPerOp: Double): Seq[(String, Double, String)] = {
    val streaming = wl.isInstanceOf[CtrStream]
    // stream micro-batches run on the engine's own thread, outside any
    // operation: attribute all of them to the run
    val ops: Set[Long] = if (streaming) Set(-1L) else traced.map(_.op).toSet
    val nOps = math.max(1, traced.size).toDouble
    val perOp = (x: Double) => if (streaming) x / math.max(1, traced.size + untraced.size) else x / nOps
    val inWindow = (ms: Long) => ms >= window._1 && ms <= window._2
    val jobs = engine.jobs.values.asScala.filter(j => ops.contains(j.op) && inWindow(j.startMs)).toSeq
    val stageIds = jobs.flatMap(_.stages).toSet
    val tasks = engine.tasks.asScala.toSeq.filter(t => stageIds.contains(t.stage))
    val execOp = engine.execOps
    val execs = engine.execs.asScala.toSeq.filter { case (id, e) =>
      execOp.get(id).exists(ops.contains) && inWindow(e.startMs) }
    val stageOfDetails = stageOf(ctx.cfg.root)
    val stageS = execs.groupBy { case (_, e) => stageOfDetails(e.details) }
      .map { case (k, es) => k -> perOp(es.map { case (_, e) => (e.endMs - e.startMs) / 1e3 }.sum) }
    val spans = Trace.all.filter(s => traced.exists(_.op == s.op))
    def spanMeanMs(name: String) = {
      val xs = spans.filter(_.name == name)
      if (xs.isEmpty) 0.0 else xs.map(_.durNs / 1e6).sum / xs.size
    }
    val self = Trace.selfNsByLayer
    val byStage = tasks.groupBy(_.stage)
    val skews = byStage.values.filter(_.size >= 2).map { ts =>
      val d = ts.map(_.durMs.toDouble)
      d.max / math.max(1.0, Stats.median(d))
    }
    val waits = tasks.flatMap(t => Option(engine.stageSubmitMs.get(t.stage)).map(s => (t.launchMs - s).toDouble))
    val windowTasks = engine.tasks.asScala.toSeq.filter(t => inWindow(t.launchMs))
    val wallS = (window._2 - window._1) / 1e3
    val bytesIn = perOp(tasks.map(_.bytesIn).sum.toDouble)
    val bytesOut = perOp(tasks.map(_.bytesOut).sum.toDouble)
    val tracedMs = Stats.median(traced.map(_.ms))
    val untracedMs = Stats.median(untraced.map(_.ms))

    val measured: Map[String, Double] = Map(
      "sources.write_csv_s" -> stageS.getOrElse("sources.write_csv", 0.0),
      "sources.write_jsonl_s" -> stageS.getOrElse("sources.write_jsonl", 0.0),
      "sources.write_warehouse_s" -> stageS.getOrElse("sources.write_warehouse", 0.0),
      "sources.reload_ms" -> spanMeanMs("reload"),
      "sources.bytes_written" -> bytesOut,
      "sources.input_bytes" -> bytesIn,
      "sources.artifact_bytes_per_input_byte" -> (if (bytesIn > 0) bytesOut / bytesIn else 0.0),
      "operators.build_ms" -> spanMeanMs("build"),
      "operators.plan_ms" -> spanMeanMs("plan"),
      "operators.exec_s" -> stageS.values.sum,
      "operators.jobs_per_op" -> perOp(jobs.size.toDouble),
      "nightly.report_s" -> stageS.getOrElse("nightly.report", 0.0),
      "nightly.alert_s" -> stageS.getOrElse("nightly.alert", 0.0),
      "corpus.clean_s" -> stageS.getOrElse("corpus.clean", 0.0),
      "corpus.dedup_s" -> stageS.getOrElse("corpus.dedup", 0.0),
      "corpus.decontaminate_s" -> stageS.getOrElse("corpus.decontaminate", 0.0),
      "corpus.mix_s" -> stageS.getOrElse("corpus.mix", 0.0),
      "corpus.split_pack_s" -> stageS.getOrElse("corpus.split_pack", 0.0),
      "engine.stages_per_op" -> perOp(jobs.map(_.stages.size).sum.toDouble),
      "engine.tasks_per_op" -> perOp(tasks.size.toDouble),
      "engine.task_cpu_s" -> perOp(tasks.map(_.cpuNs).sum / 1e9),
      "engine.gc_s" -> perOp(tasks.map(_.gcMs).sum / 1e3),
      "engine.spill_bytes" -> perOp(tasks.map(_.spill).sum.toDouble),
      "engine.sched_wait_ms" -> (if (waits.isEmpty) 0.0 else waits.sum / waits.size),
      "engine.shuffle_write_bytes" -> perOp(tasks.map(_.shuffleWrite).sum.toDouble),
      "engine.task_skew" -> (if (skews.isEmpty) 1.0 else skews.sum / skews.size),
      "engine.busy_ratio" -> windowTasks.map(_.durMs).sum / 1e3 / (wallS * ctx.cfg.cpus),
      "engine.process_cpu_s" -> cpuPerOp,
      "trace.self_ms.op" -> self.getOrElse("op", 0L) / 1e6 / nOps,
      "trace.self_ms.operators" -> self.getOrElse("operators", 0L) / 1e6 / nOps,
      "trace.self_ms.sources" -> self.getOrElse("sources", 0L) / 1e6 / nOps,
      "trace.self_ms.engine" -> self.getOrElse("engine", 0L) / 1e6 / nOps,
      "trace.self_ms.streaming" -> self.getOrElse("streaming", 0L) / 1e6 / nOps,
      "trace.overhead_pct" -> (if (untracedMs > 0) 100.0 * (tracedMs / untracedMs - 1.0) else 0.0))
    val all = measured ++ wl.probes().map { case (k, v, _) => k -> v }
    Names.map { case (k, unit) => (k, all.getOrElse(k, 0.0), unit) }
  }
}
