package graftbench

import org.apache.spark.sql.SparkSession

/** Reduces one traced pass to the per-layer metrics, by name. */
object Layers {
  val Sentinel = "perfbench-sentinel"

  /** Counter values at the start of the traced pass. */
  final case class Before(sched: Map[String, Double], plans: Map[String, Double],
      blocks: Long, blockBytes: Long, http: Seq[Long], migrated: (Long, Long), postBatches: Int)

  object Before {
    def apply(sc: SparkCounters, pc: PlanCounters, wl: Workload): Before =
      Before(sc.snapshot, planSnapshot(pc), sc.rddBlocks, sc.rddBlockBytes, http(wl), migrated(wl),
        wl match { case m: MigrateWorkload => m.batchMs.size; case _ => 0 })
  }

  private val planKeys = Seq("analysis_ms", "optimizer_ms", "physical_ms", "exchanges", "scan_ms")
  private def planSnapshot(pc: PlanCounters) = planKeys.map(k => k -> pc.get(k)).toMap

  private def http(wl: Workload): Seq[Long] = wl match {
    case m: MigrateWorkload => Seq(m.stub.gets.get, m.stub.posts.get, m.stub.retries.get)
    case _ => Seq(0L, 0L, 0L)
  }

  private def migrated(wl: Workload): (Long, Long) = wl match {
    case m: MigrateWorkload => (m.published, m.errors)
    case _ => (0L, 0L)
  }

  /** Wait until both listener queues have delivered everything posted so
    * far: a one-task sentinel job's end and its query-execution callback
    * arrive after every earlier event. */
  def drain(spark: SparkSession, sc: SparkCounters, pc: PlanCounters): Unit = {
    val seen = pc.executions + pc.failures
    val ended = sc.sentinelsEnded
    spark.sparkContext.setJobGroup(Sentinel, "listener drain")
    try spark.range(0, 1, 1, 1).write.format("noop").mode("overwrite").save()
    finally spark.sparkContext.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000L
    while ((pc.executions + pc.failures <= seen || sc.sentinelsEnded <= ended) &&
      System.currentTimeMillis() < deadline) Thread.sleep(1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Nearest-rank percentile; 0 for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
    }

  /** Native SQL functions projected over the corpus minus the same scan
    * and word-hash array alone; medians of three runs each, in ms. */
  def kernelMs(spark: SparkSession, data: String): Double = {
    val docs = spark.read.parquet(s"$data/documents.parquet").selectExpr("text",
      "array_sort(array_distinct(transform(split(text, ' '), w -> xxhash64(w)))) AS wh")
    def run(exprs: String*): Double = median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      docs.selectExpr(exprs: _*).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    })
    val scan = run("text", "wh")
    val kernels = run("simhash64(text)", "minhash_signature(wh, 64)", "shingle_stats(text, 5)",
      "repetition_stats(text, 3)", "winnow_fingerprints(text, 5, 4)", "nfc_normalize(text)")
    math.max(0.0, kernels - scan)
  }

  def report(tracer: Tracer, before: Before, sc: SparkCounters, pc: PlanCounters,
      stream: ProgressCounters, wl: Workload, rec: Recorder, rules: (Double, Long), tracedS: Double,
      setupMs: Seq[Seq[Double]]): Map[String, Double] = {
    def s(k: String) = sc.total(k) - before.sched.getOrElse(k, 0.0)
    def p(k: String) = pc.get(k) - before.plans.getOrElse(k, 0.0)
    val self = tracer.selfMs.withDefaultValue(0.0)
    val Seq(gets, posts, retries) = http(wl).zip(before.http).map { case (a, b) => (a - b).toDouble }
    val (published, errors) = {
      val (a, b) = migrated(wl)
      ((a - before.migrated._1).toDouble, (b - before.migrated._2).toDouble)
    }
    val post = wl match {
      case m: MigrateWorkload => m.batchMs.drop(before.postBatches).toSeq
      case _ => Seq.empty[Double]
    }
    val trigger = stream.sum("triggerExecution")
    val addBatch = stream.sum("addBatch")
    val taskRun = s("task_run_ms")
    Map(
      "session.start_ms" -> median(setupMs.map(_(0))),
      "session.warmup_ms" -> median(setupMs.map(_(1))),
      "queries.build_ms" -> self("queries.build"),
      "queries.plan_ms" -> self("queries.plan"),
      "queries.exec_ms" -> self("queries.exec"),
      "plans.analysis_ms" -> (p("analysis_ms") + rec.phaseMs("analysis")),
      "plans.optimizer_ms" -> (p("optimizer_ms") + rec.phaseMs("optimization")),
      "plans.physical_ms" -> (p("physical_ms") + rec.phaseMs("planning")),
      "plans.graft_rules_ms" -> rules._1,
      "plans.graft_rules_effective" -> rules._2.toDouble,
      "sources.scan_rows" -> s("scan_rows"),
      "sources.scan_bytes" -> s("scan_bytes"),
      "sources.scan_ms" -> p("scan_ms"),
      "sources.http_gets" -> gets,
      "sources.http_posts" -> posts,
      "sources.http_retries" -> retries,
      "sources.http_calls_per_record" -> (if (published > 0) (gets + posts) / published else 0.0),
      "migration.pipeline_ms" -> tracer.totalMs("migration.pipeline"),
      "migration.post_ms" -> post.sum,
      "migration.post_batch_p50_ms" -> percentile(post, 50),
      "migration.post_batch_p99_ms" -> percentile(post, 99),
      "migration.published_rows" -> published,
      "migration.error_rows" -> errors,
      "streaming.triggers" -> stream.triggerMs.size.toDouble,
      "streaming.add_batch_ms" -> addBatch,
      "streaming.overhead_ms" -> (trigger - addBatch),
      "streaming.overhead_frac" -> (if (trigger > 0) (trigger - addBatch) / trigger else 0.0),
      "streaming.latest_offset_ms" -> stream.sum("latestOffset"),
      "streaming.wal_commit_ms" -> stream.sum("walCommit"),
      "streaming.commit_offsets_ms" -> stream.sum("commitOffsets"),
      "streaming.query_planning_ms" -> stream.sum("queryPlanning"),
      "streaming.state_rows" -> stream.stateRows.toDouble,
      "streaming.state_bytes" -> stream.stateBytes.toDouble,
      "exchange.count" -> p("exchanges"),
      "exchange.shuffle_write_bytes" -> s("shuffle_write_bytes"),
      "exchange.shuffle_read_bytes" -> s("shuffle_read_bytes"),
      "exchange.fetch_wait_ms" -> s("fetch_wait_ms"),
      "exchange.spill_bytes" -> s("spill_bytes"),
      "checkpoint.blocks" -> (sc.rddBlocks - before.blocks).toDouble,
      "checkpoint.bytes" -> (sc.rddBlockBytes - before.blockBytes).toDouble,
      "checkpoint.live_bytes_end" -> sc.liveBlockBytes.toDouble,
      "sched.jobs" -> s("jobs"),
      "sched.stages" -> s("stages"),
      "sched.tasks" -> s("tasks"),
      "sched.task_run_ms" -> taskRun,
      "sched.task_cpu_ms" -> s("task_cpu_ms"),
      "sched.task_gc_ms" -> s("task_gc_ms"),
      "sched.sched_delay_ms" -> s("sched_delay_ms"),
      "sched.tasks_failed" -> s("tasks_failed"),
      "sched.busy_frac" -> taskRun / (tracedS * 1000.0 * Main.Cores))
  }
}
