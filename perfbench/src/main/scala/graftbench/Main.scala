package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark's JVM side: sets graft up several times, then runs one
  * workload as a closed loop from one client thread and writes what it
  * measured as JSON for `perfbench/run.py` to check and reduce.
  *
  * {{{
  * Main --workload W --data DIR --work DIR --seconds S --trace 0|1 --out FILE [--verify DIR]
  * }}}
  *
  * Untraced (`--trace 0`): whole passes over the workload until `S`
  * seconds have passed.
  * Traced (`--trace 1`): an untraced warm-up pass, a traced pass and an
  * untraced pass; the per-layer numbers come from the traced pass and the
  * tracing overhead from its wall time against the untraced pass after it
  * (which, one pass warmer, errs towards overstating the overhead).
  * `--verify DIR` afterwards runs the registry queries through
  * `graft.Verify` into DIR and pins each output's digest. */
object Main {
  val Cores = 4
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val data = opt("data")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]

    val setups = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      val spark = GraftSession.local(Cores)
      val t1 = System.nanoTime()
      if (i == 1) spark.sparkContext.setLogLevel("ERROR")
      warmUp(spark)
      val t2 = System.nanoTime()
      if (i < SetupReps) spark.stop()
      Seq((t1 - t0) / 1e6, (t2 - t1) / 1e6)
    }
    out("setup_ms") = setups
    val spark = SparkSession.active

    val progress = new ProgressCounters
    val wl: Workload = workload match {
      case "sql_mix" => new RegistryWorkload(RegistryWorkload.SqlMix, data)
      case "curation" => new RegistryWorkload(RegistryWorkload.Curation, data)
      case "stream" => new StreamWorkload(data, work, progress)
      case "migrate" => new MigrateWorkload(data, opt("seed").toLong)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (workload == "stream") spark.streams.addListener(progress)
    wl.prepare(spark)

    val rec =
      try {
        if (traced) tracedRun(spark, wl, workload, data, s"$work/spans.jsonl", out)
        else timedRun(spark, wl, seconds, out)
      } finally wl.close()

    out("calls") = rec.calls
    out("failed") = rec.failed
    out("failures") = rec.failures.map { case (n, e) => Map("name" -> n, "error" -> e) }
    out("rows") = rec.rows
    out("call_ms") = rec.callMs
    out("samples_ms") = rec.samples
    out("results") = rec.results.map { case (n, seen) =>
      n -> seen.toSeq.map { case (v, k) => Map("rows" -> v.rows, "digest" -> v.digest, "count" -> k) }
    }
    out("peak_rss_mb") = peakRssMb()
    out("gc_ms") = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .toArray.map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime).sum

    wl match {
      case r: RegistryWorkload if opt.contains("verify") => out("pins") = pin(r, data, opt("verify"))
      case _ =>
    }
    Json.mapper.writeValue(new java.io.File(opt("out")), out)
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** Session start is lazy about the extension and codegen; one small
    * query through a graft SQL function loads both. */
  def warmUp(spark: SparkSession): Unit =
    spark.sql("SELECT count(DISTINCT simhash64(concat('w', CAST(id AS STRING)))) FROM range(2000)")
      .collect()

  private def timedRun(spark: SparkSession, wl: Workload, seconds: Double,
      out: scala.collection.mutable.Map[String, Any]): Recorder = {
    val rec = new Recorder(NoTrace)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var passes = 0
    while (passes == 0 || elapsed < seconds) {
      wl.pass(spark, rec)
      passes += 1
    }
    out("window_s") = elapsed
    out("passes") = passes
    rec
  }

  private def tracedRun(spark: SparkSession, wl: Workload, workload: String, data: String,
      spansPath: String, out: scala.collection.mutable.Map[String, Any]): Recorder = {
    def timedPass(rec: Recorder): Double = {
      val t0 = System.nanoTime()
      wl.pass(spark, rec)
      (System.nanoTime() - t0) / 1e9
    }
    timedPass(new Recorder(NoTrace))
    val sc = new SparkCounters
    val pc = new PlanCounters
    val stream = new ProgressCounters
    spark.sparkContext.addSparkListener(sc)
    spark.listenerManager.register(pc)
    spark.streams.addListener(stream)
    val tracer = new Tracer(spark, java.util.UUID.randomUUID().toString)
    val rec = new Recorder(tracer)
    Layers.drain(spark, sc, pc)
    val before = Layers.Before(sc, pc, wl)
    GraftRules.reset()
    val tracedS = timedPass(rec)
    val rules = GraftRules.read()
    stream.awaitQuiet()
    Layers.drain(spark, sc, pc)
    val layers = Layers.report(tracer, before, sc, pc, stream, wl, rec, rules, tracedS,
      out("setup_ms").asInstanceOf[Seq[Seq[Double]]])
    spark.sparkContext.removeSparkListener(sc)
    spark.listenerManager.unregister(pc)
    spark.streams.removeListener(stream)
    val untraced = timedPass(new Recorder(NoTrace))
    val kernel = if (Seq("stream", "curation").contains(workload)) Layers.kernelMs(spark, data) else 0.0
    out("layers") = layers ++ Map(
      "plans.kernel_ms" -> kernel,
      "trace.overhead_frac" -> (tracedS / untraced - 1.0))
    tracer.write(spansPath, sc)
    out("window_s") = tracedS
    out("passes") = 1
    rec
  }

  /** Run the registry queries through graft.Verify into `dir` (plus the
    * queries whose output their oracles read) and digest each output. */
  private def pin(wl: RegistryWorkload, data: String, dir: String): Map[String, Any] = {
    graft.Verify.main(Array(data, dir, RegistryWorkload.withOracleInputs(wl.names).mkString(",")))
    val s = GraftSession.local(Cores)
    wl.names.map { n =>
      val path = s"$dir/$n"
      n -> (if (new java.io.File(path).isDirectory) {
        val v = Digest.compute(s.read.parquet(path))
        Map("rows" -> v.rows, "digest" -> v.digest)
      } else Map("error" -> "graft.Verify wrote no output (the query threw)"))
    }.toMap
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** JSON for the result file and the spans. */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}
