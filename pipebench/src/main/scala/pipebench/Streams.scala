package pipebench

import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.streaming.kafka.FakeKafkaBroker
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The two streaming workloads over one [[Topology]].
  *
  *  - live_feed: an open-loop single-thread generator sends the
  *    reference's rate and mix to a handful of markets, every query on
  *    `Pipelines.start`'s default trigger. The operation is one event,
  *    its latency the freshness from its scheduled send time to the
  *    commit of the gold micro-batch that includes it.
  *  - backlog_drain: a closed loop with one client submits a wave of
  *    events over a day's 96 markets and submits the next only once gold
  *    has committed the last one. The data queries trigger back to back,
  *    so the wave's drain time is per-row work, not trigger spacing.
  */
final class Streams(spark: SparkSession, a: Main.Args, tracer: Option[Tracer], obs: Observer) {
  import Streams._

  private val live = a.workload == "live_feed"
  private val markets = if (live) LiveMarkets else BacklogMarkets
  private val dataTrigger = if (live) None else Some(Trigger.ProcessingTime(0L))
  private val seq = new AtomicLong(0L)

  /** Everything one set-up produced, for the measured round. */
  private final class Round(val root: String, val feed: Feed, val topo: Topology,
                            val qs: Map[String, StreamingQuery]) {
    val sent = mutable.ArrayBuffer.empty[Ev]
    val sentPerTopic = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    def send(topic: String, json: String): Long = {
      FakeKafkaBroker.send(topic, null, json.getBytes("UTF-8"))
      val off = sentPerTopic(topic)
      sentPerTopic(topic) = off + 1
      off
    }
    def sendEv(e: Ev): Long = { sent += e; send(e.topic, e.json) }
    def runId(q: String) = qs(q).runId
    def stop(): Unit = qs.values.foreach(_.stop())
  }

  /** Fresh broker and directories, the topology started and warmed up by
    * a burst of events it must land in every layer. */
  private def setUp(i: Int): Round = {
    FakeKafkaBroker.reset()
    seq.set(0L)
    val root = s"${a.work}/round$i"
    val feed = new Feed(a.seed, markets)
    val topo = new Topology(spark, root, feed, dataTrigger, tracer,
      () => seq.getAndIncrement())
    val r = new Round(root, feed, topo, topo.start())
    val lead = System.currentTimeMillis() + MarketLeadMs
    (0 until markets).foreach { m =>
      r.send(Topics.Markets, feed.discovery(seq.getAndIncrement(), m,
        lead + m * MarketSpreadMs / markets))
    }
    (0 until WarmupEvents).foreach(_ => r.sendEv(feed.next(seq.getAndIncrement())))
    val targets = Seq((r.runId("gold"), Topics.Books, r.sentPerTopic(Topics.Books)),
      (r.runId("bronze"), Topics.Books, r.sentPerTopic(Topics.Books)),
      (r.runId("control"), Topics.Markets, markets.toLong))
    if (!obs.await(targets, 120000L)) {
      val state = r.qs.map { case (n, q) =>
        s"$n: active=${q.isActive} committed=${targets.filter(_._1 == q.runId)
          .map(t => obs.committed(t._1, t._2))} error=${q.exception.map(_.getMessage)}"
      }
      throw new IllegalStateException(
        s"the topology did not land its warm-up events: ${state.mkString("; ")}")
    }
    r
  }

  def run(): Result = {
    // several set-ups, the last one measured: setup_s reports their median
    val setups = mutable.ArrayBuffer.empty[Double]
    var r: Round = null
    (1 to SetupRounds).foreach { i =>
      val t = System.nanoTime()
      // an earlier round's directories stay until run.py clears the run's
      // own: the state store's maintenance may still write there after stop
      if (r != null) r.stop()
      r = setUp(i)
      setups += (System.nanoTime() - t) / 1e9
    }
    val heap0 = Main.heapAfterGcMb()
    tracer.foreach(_.reset())
    val cpu0 = Main.processCpuMs()
    val gc0 = Main.gcMs()
    val m = if (live) measureLive(r) else measureBacklog(r)
    val cpuMs = Main.processCpuMs() - cpu0
    val gcMs = Main.gcMs() - gc0

    // drain: every market resolved, every event committed in every layer
    val tMeasured = System.nanoTime()
    val resolvedAll = waitFor(60000L)(r.topo.resolvedCount >= markets)
    // the poller's answers are events sent too; none follow the last resolution
    r.sentPerTopic(Topics.Polls) = r.topo.pollsSent.values.asScala.map(_.longValue).sum
    val drained = obs.await(
      r.sentPerTopic.toSeq.map { case (t, n) => (r.runId("bronze"), t, n) } :+
        ((r.runId("gold"), Topics.Books, r.sentPerTopic(Topics.Books))), 120000L)
    val tDrained = System.nanoTime()
    val heap1 = Main.heapAfterGcMb()
    r.stop()
    tracer.foreach(_.close()) // the checks below are not the pipeline's work
    val tStopped = System.nanoTime()
    val checks = check(r)
    val tChecked = System.nanoTime()
    val bronzeFiles = Main.files(r.topo.bronzeRoot).filter(_.getName.endsWith(".parquet"))
    val bronzeBytes = bronzeFiles.map(_.length).sum
    val bronzeRows = checks.bronzeRows

    val ops = m.ops
    val failedChecks = checks.results.count(!_._2)
    val landedGold = obs.committed(r.runId("gold"), Topics.Books)
    val missing = math.max(0L, r.sentPerTopic(Topics.Books) - landedGold)
    val e2e = Map(
      "op_p50_ms" -> m.opP50Ms,
      "cpu_ms_per_op" -> cpuMs / ops,
      "peak_heap_mb" -> math.max(heap0, heap1))
    val acct = mutable.LinkedHashMap[String, Any](
      "events_sent" -> r.sentPerTopic.values.sum,
      "events_sent_by_topic" -> r.sentPerTopic.toMap,
      "events_landed_bronze" -> bronzeRows,
      "books_landed_gold" -> landedGold,
      "markets_resolved" -> r.topo.resolvedCount,
      "resolved_in_time" -> resolvedAll, "drained" -> drained,
      "bronze_bytes_per_row" -> (if (bronzeRows > 0) bronzeBytes.toDouble / bronzeRows else 0.0),
      "checks" -> checks.results.toMap,
      "gc_ms" -> gcMs,
      "phase_s" -> Map("drain" -> (tDrained - tMeasured) / 1e9,
        "stop" -> (tStopped - tDrained) / 1e9, "check" -> (tChecked - tStopped) / 1e9)) ++
      m.accounting
    val layers = tracer.map(t => perLayer(t, r, m, bronzeFiles.size.toLong, bronzeBytes, gcMs))
    tracer.foreach(_.write(s"${a.work}/spans.jsonl"))
    Result(attempted = ops + checks.results.size,
      failed = missing + failedChecks + (if (drained) 0 else 1),
      setupS = Stats.median(setups.toSeq), setupRoundsS = setups.toSeq, endToEnd = e2e,
      perLayer = layers.getOrElse(Map.empty), accounting = acct.toMap)
  }


  private def measureLive(r: Round): Measured = {
    val periodNs = 1e9 / a.rate
    val horizonNs = a.seconds * 1e9
    val t0Wall = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    val offs = mutable.ArrayBuilder.make[Long]
    val sched = mutable.ArrayBuilder.make[Double]
    val late = mutable.ArrayBuffer.empty[Double]
    var k = 0L
    while (k * periodNs < horizonNs) {
      val due = t0 + (k * periodNs).toLong
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      val e = r.feed.next(seq.getAndIncrement())
      val off = r.sendEv(e)
      late += (System.nanoTime() - due) / 1e6
      if (e.topic == Topics.Books) { offs += off; sched += t0Wall + k * periodNs / 1e6 }
      k += 1
    }
    val bookOffsets = offs.result()
    val bookSched = sched.result()
    // the drain that follows lands the tail; freshness is computed after it
    obs.await(Seq((r.runId("gold"), Topics.Books, r.sentPerTopic(Topics.Books))), 120000L)
    val tailDoneMs = System.currentTimeMillis().toDouble
    val (fresh, groups) = freshness(obs.batches(r.runId("gold")), bookOffsets, bookSched,
      _.commitMs)
    val p50 = Stats.percentile(fresh, groups, 0.5)
    val p95 = Stats.percentile(fresh, groups, 0.95)
    Measured(k, p50.getOrElse(Double.NaN),
      Map("fresh_p50_ms" -> p50, "fresh_p95_ms" -> p95,
        "gold_batches_measured" -> groups.distinct.size,
        "generator_late_p50_ms" -> Stats.median(late.toSeq),
        "generator_late_max_ms" -> late.max,
        "rate_per_s" -> a.rate,
        "tail_drain_ms" -> (tailDoneMs - t0Wall - horizonNs / 1e6)),
      bookOffsets, bookSched)
  }

  private def measureBacklog(r: Round): Measured = {
    val horizonMs = a.seconds * 1000.0
    val waveLat = mutable.ArrayBuffer.empty[Double]
    val offs = mutable.ArrayBuilder.make[Long]
    val sched = mutable.ArrayBuilder.make[Double]
    var first = Double.NaN
    var lastCommit = Double.NaN
    var events = 0L
    var waves = 0
    var ok = true
    while (ok && (waves == 0 || lastCommit - first < horizonMs)) {
      val sw = System.currentTimeMillis().toDouble
      if (waves == 0) first = sw
      (0 until WaveEvents).foreach { _ =>
        val e = r.feed.next(seq.getAndIncrement())
        val off = r.sendEv(e)
        if (e.topic == Topics.Books) { offs += off; sched += sw }
      }
      events += WaveEvents
      val target = r.sentPerTopic(Topics.Books)
      ok = obs.await(Seq((r.runId("gold"), Topics.Books, target)), 120000L)
      if (ok) {
        val c = obs.batches(r.runId("gold")).find(_.endOffsets.getOrElse(Topics.Books, 0L) >= target)
          .get.commitMs
        waveLat += c - sw
        lastCommit = c
      }
      waves += 1
    }
    val drainS = (lastCommit - first) / 1000.0
    val p50 = Stats.percentile(waveLat.toIndexedSeq, waveLat.indices.map(_.toLong), 0.5)
    Measured(events, p50.getOrElse(Double.NaN),
      Map("waves" -> waves, "wave_events" -> WaveEvents, "markets" -> markets,
        "drain_rows_per_s" -> events / drainS, "wave_p50_ms" -> p50),
      offs.result(), sched.result())
  }

  /** Per book event: ms from its scheduled send to the moment `doneMs` of
    * the first batch whose committed offset covers it; the group is that
    * batch's id. */
  private def freshness(batches: IndexedSeq[Batch], offsets: Array[Long], schedMs: Array[Double],
                        doneMs: Batch => Double): (IndexedSeq[Double], IndexedSeq[Long]) = {
    val fresh = mutable.ArrayBuffer.empty[Double]
    val groups = mutable.ArrayBuffer.empty[Long]
    var bi = 0
    offsets.indices.foreach { i =>
      while (bi < batches.length && batches(bi).endOffsets.getOrElse(Topics.Books, 0L) <= offsets(i))
        bi += 1
      if (bi < batches.length) {
        fresh += doneMs(batches(bi)) - schedMs(i)
        groups += batches(bi).batchId
      }
    }
    (fresh.toIndexedSeq, groups.toIndexedSeq)
  }


  /** Outputs against the generator's own record of what it sent. */
  private def check(r: Round): Checks = {
    val sentSeqByTopic = r.sentPerTopic.toMap
    // bronze: per-topic counts equal the counts sent, no event duplicated
    val bronze = spark.read.parquet(r.topo.bronzeRoot)
      .select(col("topic"), get_json_object(col("payload"), "$.seq").cast("long").as("seq"))
      .groupBy("topic").agg(count(lit(1)).as("n"), countDistinct("seq").as("d"))
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    val bronzeOk = bronze.keySet == sentSeqByTopic.keySet &&
      sentSeqByTopic.forall { case (t, n) => bronze.get(t).contains((n, n)) }
    // silver: row counts per projected topic
    val silverOk = Topics.silver.forall { t =>
      val want = sentSeqByTopic.getOrElse(t, 0L)
      val got = if (Main.files(s"${r.topo.silverRoot}/$t").isEmpty) 0L
        else spark.read.parquet(s"${r.topo.silverRoot}/$t").count()
      got == want
    }
    // gold: the last emitted row of every (market, window) equals the
    // recomputation from the sent log
    val want = Feed.expectedGold(r.sent, r.feed.marketIds)
    val got = spark.read.parquet(r.topo.goldRoot)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("market_id", "win_start")
          .orderBy(col("batch_id").desc)))
      .filter(col("rk") === 1)
      .select(col("market_id"), unix_millis(col("win_start")), col("n_events"),
        col("max_bid_c"), col("sum_size_c"), col("top_share"))
      .collect().map(x => (x.getString(0), x.getLong(1)) ->
        GoldRow(x.getLong(2), x.getLong(3), x.getLong(4), x.getDouble(5))).toMap
    val goldOk = got == want
    // control: every market resolved exactly once, with the winner its
    // final poll prices imply, and none failed
    val tr = r.topo.allTransitions
    val resolved = tr.filter(_._2 == "resolved").groupBy(_._1)
    val controlOk = tr.forall(_._2 != "resolution_failed") &&
      r.feed.marketIds.indices.forall { i =>
        val (no, yes) = r.feed.finalPrices(i)
        resolved.get(r.feed.marketIds(i)).exists(xs =>
          xs.size == 1 && xs.head._3 == Feed.winner(no, yes))
      }
    Checks(Seq("bronze_counts_no_duplicates" -> bronzeOk, "silver_counts" -> silverOk,
      "gold_recomputed" -> goldOk, "markets_resolved_once" -> controlOk),
      bronze.values.map(_._1).sum)
  }

  private def perLayer(t: Tracer, r: Round, m: Measured, bronzeFiles: Long, bronzeBytes: Long,
                       gcMs: Double): Map[String, (Double, String)] = {
    val bs = obs.batches(r.runId("bronze"))
    val gs = obs.batches(r.runId("gold"))
    val cs = obs.batches(r.runId("control"))
    Seq("bronze" -> bs, "gold" -> gs, "control" -> cs).foreach { case (l, xs) => xs.foreach(t.progress(l, _)) }
    val all = bs ++ gs ++ cs
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def spanMs(layer: String) = t.spans.asScala.iterator
      .filter(s => s.layer == layer && s.parent.isEmpty).map(_.durMs).toSeq
    def dur(b: Batch, k: String) = b.durationMs.getOrElse(k, 0L).toDouble
    val withData = (bs ++ gs).filter(_.inputRows > 0)
    def visible(bat: IndexedSeq[Batch], done: Batch => Double) =
      med(freshness(bat, m.bookOffsets, m.bookSchedMs, done)._1)
    val bronzeVis = visible(bs, b => Option(r.topo.bronzeDoneMs.get(b.batchId)).map(_.doubleValue)
      .getOrElse(b.commitMs))
    val silverVis = visible(bs, b => Option(r.topo.silverDoneMs.get(b.batchId)).map(_.doubleValue)
      .getOrElse(b.commitMs))
    val goldVis = visible(gs, _.commitMs)
    val ingestMs = all.map(b => dur(b, "latestOffset") + dur(b, "getBatch"))
    Layers.common(t, gcMs, m.opP50Ms) ++ Map(
      "ingest.offset_ms" -> (med(ingestMs), "ms"),
      "ingest.rows_per_batch" -> (med(withData.map(_.inputRows.toDouble)), "rows"),
      "ingest.self_ms" -> (ingestMs.sum, "ms"),
      "bronze.write_ms" -> (med(spanMs("bronze")), "ms"),
      "bronze.files" -> (bronzeFiles.toDouble, "count"),
      "bronze.bytes" -> (bronzeBytes.toDouble, "B"),
      "silver.project_ms" -> (med(spanMs("silver")), "ms"),
      "silver.rows_out" -> (t.totalsFor("silver").recordsWritten.toDouble, "rows"),
      "gold.batch_ms" -> (med(gs.map(dur(_, "triggerExecution"))), "ms"),
      "gold.state_commit_ms" -> (med(gs.map(_.stateCommitMs.toDouble)), "ms"),
      "gold.state_rows" -> (gs.lastOption.map(_.stateRows.toDouble).getOrElse(0.0), "rows"),
      "gold.state_bytes" -> (gs.lastOption.map(_.stateBytes.toDouble).getOrElse(0.0), "B"),
      "gold.late_dropped_rows" -> (gs.map(_.lateDropped.toDouble).sum, "rows"),
      "control.batch_ms" -> (med(cs.map(dur(_, "triggerExecution"))), "ms"),
      "control.state_rows" -> (cs.map(_.stateRows.toDouble).foldLeft(0.0)(math.max), "rows"),
      "bronze.visible_p50_ms" -> (bronzeVis, "ms"),
      "silver.visible_p50_ms" -> (silverVis, "ms"),
      "gold.visible_p50_ms" -> (goldVis, "ms"),
      "engine.query_planning_ms" -> (med(all.map(dur(_, "queryPlanning"))), "ms"),
      "engine.wal_commit_ms" -> (med(all.map(b => dur(b, "walCommit") + dur(b, "commitOffsets"))), "ms"))
  }

  private def waitFor(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(20)
    cond
  }
}

object Streams {
  /** What the measured phase saw: its operations, their p50 latency, and
    * the sent books' topic offsets and scheduled send times. */
  private final case class Measured(ops: Long, opP50Ms: Double, accounting: Map[String, Any],
                                    bookOffsets: Array[Long], bookSchedMs: Array[Double])
  /** Each named output check's verdict, and the rows bronze landed. */
  private final case class Checks(results: Seq[(String, Boolean)], bronzeRows: Long)

  val LiveMarkets = 4
  val BacklogMarkets = 96
  val SetupRounds = 2
  /** events sent during set-up, before anything is timed */
  val WarmupEvents = 2000
  /** events per backlog wave (the same mix) */
  val WaveEvents = 20000
  /** markets close between MarketLeadMs and MarketLeadMs + MarketSpreadMs
    * after set-up, inside every run */
  val MarketLeadMs = 3000L
  val MarketSpreadMs = 4000L
}
