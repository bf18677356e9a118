package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.TimestampNTZType

import graft.SparkEntry
import graft.operators.Dedup
import graft.streaming.{DocumentStreams, EventStreams}

/** What one run observed. A call is one operation the workload's client
  * issues into graft (a registry query, a streaming runner drain, a sync
  * pipeline call); `samples` are the latencies of the workload's unit of
  * work (a query, a micro-batch trigger, a sync pipeline call). */
final class Recorder(val trace: Trace) {
  var calls = 0L
  var failed = 0L
  var rows = 0L
  val callMs = mutable.ArrayBuffer.empty[Double]
  val samples = mutable.ArrayBuffer.empty[Double]
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  /** Planning phases of the frames the benchmark plans itself; executions
    * triggered by actions are seen by the query-execution listener. */
  val phaseMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** name -> digest -> times seen, compared with the seed's pins later. */
  val results = mutable.LinkedHashMap.empty[String, mutable.Map[Digest.Value, Int]]

  def result(name: String, v: Digest.Value): Unit = {
    val seen = results.getOrElseUpdate(name, mutable.Map.empty[Digest.Value, Int])
    seen(v) = seen.getOrElse(v, 0) + 1
  }

  def fail(name: String, why: String): Unit = {
    failed += 1
    if (failures.size < 50) failures += name -> why
  }

  /** Time one call; a throw counts as a failed call and the loop goes on. */
  def call(span: String, name: String)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    try trace.span(span)(body)
    catch { case NonFatal(e) => fail(name, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)) }
    val ms = (System.nanoTime() - t0) / 1e6
    calls += 1
    callMs += ms
    ms
  }
}

trait Workload {
  def prepare(spark: SparkSession): Unit = ()
  /** One fixed unit of work: every call of the workload once. */
  def pass(spark: SparkSession, rec: Recorder): Unit
  def close(): Unit = ()
}

/** Registry queries in a fixed order; each is built, planned and run into
  * the `noop` sink with its output digest observed on the same action. */
final class RegistryWorkload(val names: Seq[String], data: String) extends Workload {

  def pass(spark: SparkSession, rec: Recorder): Unit = names.foreach { name =>
    rec.samples += rec.call("queries.call", name) {
      val df = rec.trace.span("queries.build") { SparkEntry.queries(name)(spark, data) }
      val (observed, obs) = Digest.observed(df)
      rec.trace.span("queries.plan") { observed.queryExecution.executedPlan }
      observed.queryExecution.tracker.phases.foreach { case (p, t) => rec.phaseMs(p) += t.durationMs }
      rec.trace.span("queries.exec") { observed.write.format("noop").mode("overwrite").save() }
      val v = Digest.of(obs.get)
      rec.rows += v.rows
      rec.result(name, v)
    }
  }
}

object RegistryWorkload {
  /** Short read-only relational and SQL-surface queries: those of q01-q29,
    * q2a, q2b, q163-q232 that the repository's bench times under 0.35 s at
    * sf0.1, where fixed per-query cost dominates, plus the two whose plans
    * the GraftExtensions rules rewrite (q171 range join, q232 advised
    * broadcast). */
  val SqlMix: Seq[String] =
    Seq("q02", "q06", "q09", "q10", "q11", "q13", "q14", "q15", "q16", "q17", "q18", "q19",
      "q20", "q21", "q22", "q23", "q24", "q25", "q28", "q2a", "q166", "q171", "q174", "q179",
      "q180", "q181", "q182", "q201", "q204", "q217", "q226", "q232").map(resolve)

  /** LLM data-curation batch queries over the corpus: signature-kernel
    * dedups and the width-pinned, checkpointed operator paths. */
  val Curation: Seq[String] =
    Seq("q38", "q39", "q44", "q76", "q92", "q99", "q100", "q121", "q125", "q143", "q152",
      "q224", "q231", "q49", "q81").map(resolve)

  /** Registry name from its `qNN` prefix. */
  def resolve(prefix: String): String =
    SparkEntry.queries.keys.find(_.startsWith(prefix + "_"))
      .getOrElse(throw new IllegalArgumentException(s"no registry query $prefix"))

  /** `names` plus the queries whose output their oracles read. */
  def withOracleInputs(names: Seq[String]): Seq[String] = {
    val ref = "__VERIFY_OUT__/(\\w+)".r
    val oracle = SparkEntry.oracleSql
    @annotation.tailrec
    def closure(acc: Set[String]): Set[String] = {
      val next = acc ++ acc.flatMap(n => oracle.get(n).toSeq.flatMap(ref.findAllMatchIn(_).map(_.group(1))))
        .filter(SparkEntry.queries.contains)
      if (next == acc) acc else closure(next)
    }
    val all = closure(names.toSet)
    names ++ (all -- names).toSeq.sorted
  }
}

/** Drains a generated backlog through graft's streaming runners, one
  * micro-batch per file: the event backlog through the stateful
  * sessionizer and the stream-stream interval join, and the document
  * crawl through the keyed incremental dedup (with compaction) and the
  * incremental curation store. Every runner gets fresh state per pass. */
final class StreamWorkload(data: String, work: String, progress: ProgressCounters)
    extends Workload {
  private var passNo = 0
  private val crawlIds = mutable.Set.empty[Long]
  private val allIds = mutable.Set.empty[Long]

  override def prepare(spark: SparkSession): Unit = {
    val ids = spark.read.parquet(s"$data/documents.parquet").select("doc_id").collect().map(_.getLong(0))
    allIds ++= ids
    crawlIds ++= ids.filter(_ % 10 != 0)
  }

  private def events(spark: SparkSession): DataFrame = {
    val tsType = spark.read.parquet(s"$data/events").schema("ts").dataType
    val raw = spark.readStream.schema(EventStreams.rawSchema(tsType))
      .option("maxFilesPerTrigger", 1).parquet(s"$data/events")
    if (tsType == TimestampNTZType) raw.withColumn("ts", col("ts").cast("timestamp")) else raw
  }

  private def drain(df: DataFrame, table: String, checkpoint: String): DataFrame = {
    val q = df.writeStream.format("memory").queryName(table).outputMode("append")
      .option("checkpointLocation", checkpoint).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    df.sparkSession.table(table)
  }

  private def runner(name: String, rec: Recorder)(body: => (DataFrame, Seq[String], Set[Long])): Unit = {
    val before = progress.triggerMs.size
    val rows0 = progress.inputRows
    rec.call("streaming.runner", name) {
      val (out, key, universe) = body
      val keys = out.select(key.map(col): _*).collect()
      if (keys.distinct.length != keys.length)
        throw new IllegalStateException(s"$name emitted ${keys.length - keys.distinct.length} duplicate rows")
      if (universe.nonEmpty) {
        val extra = keys.map(_.getLong(0)).filterNot(universe.contains)
        if (extra.nonEmpty) throw new IllegalStateException(s"$name emitted ids not in its input: ${extra.take(5).mkString(",")}")
      }
      rec.result(name, Digest.compute(out))
    }
    progress.awaitQuiet()
    val it = progress.triggerMs.iterator()
    var i = 0
    while (it.hasNext) { val v = it.next(); if (i >= before) rec.samples += v.doubleValue; i += 1 }
    rec.rows += progress.inputRows - rows0
  }

  def pass(spark: SparkSession, rec: Recorder): Unit = {
    passNo += 1
    val dir = s"$work/stream-$passNo"
    runner("sessions", rec) {
      val out = drain(EventStreams.sessionizeStream(events(spark), gapMinutes = 30).toDF(),
        s"perfbench_sessions_$passNo", s"$dir/ck-sessions")
      (out, Seq("user_id", "session_start"), Set.empty)
    }
    runner("interval_join", rec) {
      val ev = events(spark)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val signups = ev.filter(col("event_type") === "signup").select(col("user_id"), col("ts"))
      val out = drain(EventStreams.intervalJoinStreams(purchases, signups, "user_id", "ts", 60),
        s"perfbench_join_$passNo", s"$dir/ck-join")
      (out, Seq("l_event_id", "r_ts"), Set.empty)
    }
    def seedSigned = Dedup.signDocs(
      spark.read.parquet(s"$data/documents.parquet").filter(col("doc_id") % 10 === 0),
      col("text"), col("doc_id"), numHashes = 64, bands = 4)
    runner("keyed_dedup", rec) {
      val out = DocumentStreams.incrementalDedupToKeyedSigned(spark, data, seedSigned,
        s"$dir/keyed-out", s"$dir/keyed-idx", batchFiles = StreamWorkload.DocBatches, shards = 4,
        numHashes = 64, bands = 4, threshold = 0.95, compactEvery = 2)
      (out, Seq("doc_id"), crawlIds.toSet)
    }
    runner("curation_store", rec) {
      val out = DocumentStreams.incrementalCurationToParquetSigned(spark, data, seedSigned,
        s"$dir/curated-out", s"$dir/curated-idx", batchFiles = StreamWorkload.DocBatches,
        compactEvery = 2)
      (out, Seq("doc_id"), allIds.toSet)
    }
    deleteTree(java.nio.file.Paths.get(dir))
  }

  private def deleteTree(root: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(root)) {
      val all = java.nio.file.Files.walk(root)
      try all.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally all.close()
    }
}

object StreamWorkload {
  /** Crawl micro-batches per document runner; compaction runs every two. */
  val DocBatches = 2
}
