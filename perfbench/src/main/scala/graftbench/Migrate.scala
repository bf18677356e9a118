package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.migration.{Pipelines, SyncOptions}
import graft.migration.Schemas._
import graft.sources.HttpPublisher

/** Wall time of every publish batch, taken around the `post` closure the
  * pipelines call from their publish tasks (same JVM in local mode). */
object PostTimes {
  val batchNanos = new ConcurrentLinkedQueue[java.lang.Long]()
}

final class TimedPost(inner: Seq[Row] => Unit) extends (Seq[Row] => Unit) with Serializable {
  def apply(batch: Seq[Row]): Unit = {
    val t0 = System.nanoTime()
    try inner(batch) finally PostTimes.batchNanos.add(System.nanoTime() - t0)
  }
}

/** The reference migration end to end against the loopback [[Stub]]:
  * customers, tickets, messages and attachment listings come in through
  * live-HTTP `graft-pages` scans, attachment payloads through the
  * pipeline's fetch stage, and records go out through [[HttpPublisher]]
  * with the rate limit set far above the run's request count. */
final class MigrateWorkload(data: String, seed: Long) extends Workload {
  // far above any run's request count: the sandbox measures the engine,
  // the real 30 and 200 req/min limits are applied to api calls per record
  private val Rate = 10000000
  private val mapper = new ObjectMapper()
  private val dims = mapper.readTree(new java.io.File(s"$data/dims.json"))
  private val expected = mapper.readTree(new java.io.File(s"$data/expected.json"))
  private def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
  private val customersOk = strings(expected.get("customers_ok"))
  private val ticketsOk = strings(expected.get("tickets_ok"))
  val stub: Stub = Stub(data, seed, expected.get("status_429_share").asDouble,
    Map("customers" -> "groove_email", "conversations" -> "groove_ticket_number"))
  var published = 0L
  var errors = 0L
  /** Publish-batch wall times (ms) of the passes so far. */
  val batchMs = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var passNo = 0

  private def schemaOf[T <: Product: scala.reflect.runtime.universe.TypeTag]: StructType =
    Encoders.product[T].schema

  private def jsonFrame(spark: SparkSession, node: JsonNode, schema: StructType): DataFrame =
    spark.read.schema(schema).json(spark.createDataset(
      node.elements().asScala.map(mapper.writeValueAsString).toSeq)(Encoders.STRING))

  private def check(name: String, cond: Boolean, why: => String): Unit =
    if (!cond) throw new IllegalStateException(s"$name: $why")

  /** Every expected id accepted exactly once, and nothing else. */
  private def exactlyOnce(resource: String, want: Seq[String]): Unit = {
    val got = stub.received(resource)
    val missing = want.filterNot(got.contains)
    val repeated = got.filter(_._2 != 1)
    val unexpected = got.keySet -- want
    check(resource, missing.isEmpty && repeated.isEmpty && unexpected.isEmpty,
      s"missing ${missing.take(5)}, repeated ${repeated.take(5)}, unexpected ${unexpected.take(5)}")
  }

  def pass(spark: SparkSession, rec: Recorder): Unit = {
    import spark.implicits._
    passNo += 1
    stub.resetLedger()
    val base = stub.base(s"m$passNo")
    def pages(resource: String, schema: StructType): DataFrame =
      spark.read.format("graft-pages").schema(schema).load(s"$base/groove/$resource")
    val errs = spark.sparkContext.collectionAccumulator[(String, String)]("perfbench-publish-errors")
    val batches0 = PostTimes.batchNanos.size

    rec.samples += rec.call("migration.pipeline", "syncCustomers") {
      val report = Pipelines.syncCustomers(pages("customers", schemaOf[GrooveCustomer]),
        ratePerMinute = Rate, batchSize = 50, parallelism = 4)(
        new TimedPost(new HttpPublisher(s"$base/hs/customers", errs.add _, idCol = Some("groove_email"))))
      published += report.published
      errors += report.errors
      rec.rows += report.published
      check("syncCustomers", report.published == customersOk.size,
        s"published ${report.published}, expected ${customersOk.size}")
      check("syncCustomers", report.errors == expected.get("customer_errors").asLong,
        s"errors ${report.errors}, injected ${expected.get("customer_errors").asLong}")
      exactlyOnce("customers", customersOk)
    }

    rec.samples += rec.call("migration.pipeline", "syncTickets") {
      val attachments = pages("attachments", StructType(Seq(
          StructField("message_id", StringType), StructField("filename", StringType),
          StructField("size", LongType), StructField("url", StringType))))
        .withColumn("url", concat(lit(s"$base/files/"), col("url")))
      val out = Pipelines.syncTickets(
        pages("tickets", schemaOf[GrooveTicket]), pages("messages", schemaOf[GrooveMessage]),
        attachments,
        strings(dims.get("grooveMailboxes")).toDF("name"),
        strings(dims.get("grooveAgents")).toDF("email"),
        jsonFrame(spark, dims.get("hsMailboxes"), schemaOf[HsMailbox]),
        jsonFrame(spark, dims.get("hsUsers"), schemaOf[HsUser]),
        jsonFrame(spark, dims.get("hsCustomers"), schemaOf[HsCustomer]),
        jsonFrame(spark, dims.get("existingConversations"), schemaOf[HsConversation]),
        dims.get("defaultMailboxEmail").asText,
        SyncOptions(checkDuplicates = true),
        ratePerMinute = Rate, batchSize = 10, parallelism = 4)(
        new TimedPost(new HttpPublisher(s"$base/hs/conversations", errs.add _,
          idCol = Some("groove_ticket_number"))))
      val report = out.getOrElse(throw new IllegalStateException("validation gate refused the dimensions"))
      published += report.published
      errors += report.errors
      rec.rows += report.published
      check("syncTickets", report.published == ticketsOk.size,
        s"published ${report.published}, expected ${ticketsOk.size}")
      check("syncTickets", report.errors == expected.get("ticket_errors").asLong,
        s"errors ${report.errors}, injected ${expected.get("ticket_errors").asLong}")
      exactlyOnce("conversations", ticketsOk)
      check("publish", errs.value.isEmpty, s"publish errors ${errs.value.asScala.take(3)}")
    }
    batchMs ++= PostTimes.batchNanos.asScala.drop(batches0).map(_ / 1e6)
  }

  override def close(): Unit = stub.stop()
}
