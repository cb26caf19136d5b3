package pipebench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.ops.Norms
import graft.gold.Features
import graft.schemas.EventSchemas
import graft.silver.Silver
import graft.streaming.{Lifecycle, Pipelines}
import graft.streaming.kafka.FakeKafkaBroker
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** The composed streaming topology, every stage the program's own
  * function:
  *  - control: market-updates + gamma-poll-results → `Pipelines.parseValue`
  *    → `Lifecycle.run`; its sink plays the resolution poller, answering
  *    each `poll_due` with the market's final prices;
  *  - bronze/silver: every topic → `Pipelines.routedBronzeBatchWrite`, then
  *    `Silver.project` of each topic over the batch's bronze rows;
  *  - gold: orderbook summaries → `Silver.project` → `Pipelines.windowedAgg`
  *    (1-minute windows, update mode, `Features.topShare` among the
  *    aggregates), written every micro-batch.
  * All sources are `Pipelines.kafkaSource` over the broker double. */
final class Topology(spark: SparkSession, root: String, feed: Feed,
                     dataTrigger: Option[Trigger],
                     tracer: Option[Tracer], nextSeq: () => Long) {
  import Topology._

  val bronzeRoot = s"$root/bronze"
  val silverRoot = s"$root/silver"
  val goldRoot = s"$root/gold"
  /** batch id → wall ms at which its bronze (silver) write had finished */
  val bronzeDoneMs = new ConcurrentHashMap[Long, Double]()
  val silverDoneMs = new ConcurrentHashMap[Long, Double]()
  /** control batch id → the transitions it emitted (a replayed batch
    * overwrites its own entry, as an idempotent sink would) */
  val transitions = new ConcurrentHashMap[Long, Seq[(String, String, String)]]()
  /** poll answers sent, per market */
  val pollsSent = new ConcurrentHashMap[String, Integer]()
  private val marketIndex = feed.marketIds.zipWithIndex.toMap

  private def traced[T](id: String, layer: String, name: String)(f: => T): T =
    tracer.fold(f)(_.span(id, layer, name)(f))

  /** `Pipelines.start`, on its default trigger unless one is given. */
  private def startQ(w: DataStreamWriter[Row], name: String,
                     trigger: Option[Trigger]): StreamingQuery =
    trigger.fold(Pipelines.start(w, name))(Pipelines.start(w, name, _))

  def start(): Map[String, StreamingQuery] = {
    val ctl = startControl()
    val bronze = startBronze()
    val gold = startGold()
    val qs = Map("control" -> ctl, "bronze" -> bronze, "gold" -> gold)
    tracer.foreach(t => qs.foreach { case (layer, q) => t.registerQuery(q.id.toString, layer) })
    qs
  }

  private def startControl(): StreamingQuery = {
    val raw = Pipelines.kafkaSource(spark, Seq(Topics.Markets, Topics.Polls), "earliest")
    val discovered = Pipelines.parseValue(raw.filter(col("topic") === Topics.Markets),
        EventSchemas.marketUpdate)
      .select(col("p.market_id").as("marketId"), lit("discovered").as("kind"),
        unix_millis(col("kafka_ts")).as("tsMs"), col("p.token_ids").as("tokenIds"),
        unix_millis(Norms.isoTs(col("p.end_time"))).as("endTimeMs"),
        lit(false).as("closed"), lit("").as("resolutionStatus"),
        lit(0.0).as("noPrice"), lit(0.0).as("yesPrice"))
    val polled = Pipelines.parseValue(raw.filter(col("topic") === Topics.Polls), PollSchema)
      .select(col("p.market_id").as("marketId"), lit("poll_result").as("kind"),
        unix_millis(col("kafka_ts")).as("tsMs"),
        array().cast(ArrayType(StringType)).as("tokenIds"), lit(0L).as("endTimeMs"),
        col("p.closed").as("closed"), col("p.resolution_status").as("resolutionStatus"),
        col("p.no_price").as("noPrice"), col("p.yes_price").as("yesPrice"))
    import spark.implicits._
    val out = Lifecycle.run(discovered.unionByName(polled).as[Lifecycle.MarketMsg], ControlTiming)
    startQ(out.toDF().writeStream
      .option("checkpointLocation", s"$root/ckpt/control")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        traced(s"control#$id", "control", "sink") {
          val rows = batch.collect().map(r => (r.getString(0), r.getString(1), r.getString(3)))
          transitions.put(id, rows.toSeq)
          rows.filter(_._2 == "poll_due").foreach { case (m, _, _) =>
            marketIndex.get(m).foreach { i =>
              FakeKafkaBroker.send(Topics.Polls, null,
                feed.pollResult(nextSeq(), i).getBytes("UTF-8"))
              pollsSent.merge(m, 1, (a: Integer, b: Integer) => a + b)
            }
          }
        }
        ()
      }, "control", None)
  }

  private def startBronze(): StreamingQuery =
    startQ(Pipelines.kafkaSource(spark, Topics.all, "earliest").writeStream
      .option("checkpointLocation", s"$root/ckpt/bronze")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        traced(s"bronze#$id", "bronze", "write") {
          Pipelines.routedBronzeBatchWrite(bronzeRoot)(batch, id)
        }
        bronzeDoneMs.put(id, System.currentTimeMillis().toDouble)
        // an empty micro-batch lands no bronze partition and has no silver
        val landed = s"$bronzeRoot/batch_id=$id"
        if (new java.io.File(landed).isDirectory) traced(s"bronze#$id", "silver", "project") {
          val rows = spark.read.parquet(landed)
          SilverSpecs.foreach { case (topic, schema, fields) =>
            Silver.project(rows.filter(col("topic") === topic), col("payload"), schema,
                fields, keep = Seq(col("ingested_at")))
              .withColumn("batch_id", lit(id))
              .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
              .partitionBy("batch_id").parquet(s"$silverRoot/$topic")
          }
        }
        silverDoneMs.put(id, System.currentTimeMillis().toDouble)
        ()
      }, "bronze", dataTrigger)

  private def startGold(): StreamingQuery = {
    val raw = Pipelines.kafkaSource(spark, Seq(Topics.Books), "earliest")
    val books = Silver.project(raw.select(col("value").cast("string").as("payload")),
        col("payload"), EventSchemas.orderbookSummary,
        Seq("market_id" -> StringType, "timestamp" -> StringType,
          "best_bid_price" -> DoubleType, "best_bid_size" -> DoubleType),
        keep = Seq.empty)
      .select(col("market_id"), Norms.isoTs(col("timestamp")).as("ts"),
        Norms.cents(col("best_bid_price")).as("bid_c"),
        Norms.cents(col("best_bid_size")).as("size_c"))
    val gold = Pipelines.windowedAgg(books, "ts", "30 seconds", "1 minute",
      Seq(col("market_id")),
      Seq(count(lit(1)).as("n_events"), max(col("bid_c")).as("max_bid_c"),
        sum(col("size_c")).as("sum_size_c"), Features.topShare(col("size_c")).as("top_share")))
    startQ(gold.writeStream.outputMode("update")
      .option("checkpointLocation", s"$root/ckpt/gold")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        traced(s"gold#$id", "gold", "write") {
          batch.withColumn("batch_id", lit(id))
            .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(goldRoot)
        }
        ()
      }, "gold", dataTrigger)
  }

  /** (market id, transition, detail) over every committed control batch. */
  def allTransitions: Seq[(String, String, String)] =
    transitions.asScala.toSeq.sortBy(_._1).flatMap(_._2)

  def resolvedCount: Int = allTransitions.count(_._2 == "resolved")
}

object Topology {
  /** The poller's answer shape (the reference's Gamma poll result). */
  val PollSchema: StructType = StructType(Seq(
    StructField("market_id", StringType), StructField("closed", BooleanType),
    StructField("resolution_status", StringType),
    StructField("no_price", DoubleType), StructField("yes_price", DoubleType)))

  /** The lifecycle's clock compressed from minutes to sub-seconds, so a
    * market closes, is polled and resolves within a run. */
  val ControlTiming: Lifecycle.Timing = Lifecycle.Timing(firstPollDelayMs = 500L,
    baseBackoffMs = 300L, maxBackoffMs = 600L, maxAttempts = 20)

  /** Silver's typed projection of each topic. */
  val SilverSpecs: Seq[(String, StructType, Seq[(String, DataType)])] = Seq(
    (Topics.Markets, EventSchemas.marketUpdate,
      Seq("market_id" -> StringType, "end_time" -> StringType, "slug" -> StringType)),
    (Topics.Books, EventSchemas.orderbookSummary,
      Seq("market_id" -> StringType, "timestamp" -> StringType,
        "best_bid_price" -> DoubleType, "best_bid_size" -> DoubleType,
        "book_imbalance" -> DoubleType)),
    (Topics.Positions, EventSchemas.position,
      Seq("user" -> StringType, "market_id" -> StringType,
        "snapshot_time" -> StringType, "balance" -> LongType)),
    (Topics.Ticks, EventSchemas.assetPrice,
      Seq("symbol" -> StringType, "price" -> DoubleType, "timestamp" -> StringType)))
}
