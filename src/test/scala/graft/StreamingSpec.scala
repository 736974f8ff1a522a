package graft

import graft.streaming.Streams
import graft.streaming.Streams.Event
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Structured Streaming parity: the same transforms produce the same
  * results whether driven by a stream or a batch scan.
  */
class StreamingSpec extends SparkSpecBase {

  private lazy val eventsDf = t.events
    .select("event_id", "ts", "user_id", "event_type", "value")

  test("streaming windowed agg equals batch windowed agg") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    input.addData(eventsDf.as[Event].collect().toSeq)

    val query = Streams.windowed(input.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    try query.processAllAvailable() finally query.stop()

    val streamed = spark.table("win_out")
      .select("w_start", "event_type", "n", "sum_value")
      .collect().map(_.toSeq).toSet
    val batch = Streams.windowed(eventsDf)
      .select("w_start", "event_type", "n", "sum_value")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("a streaming aggregate keeps Spark's DECIMAL(28,2) sum buffer; " +
      "the batch plan of the same function sums longs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // The sums of a plan's aggregates that add DECIMAL values, by
    // buffer type.
    def decimalSums(p: LogicalPlan) =
      p.collect { case n => n.expressions }.flatten.flatMap(_.collect {
        case s: Sum if s.child.dataType.isInstanceOf[DecimalType] =>
          s.aggBufferAttributes.head.dataType
      })
    val input = MemoryStream[Event]
    input.addData(eventsDf.as[Event].collect().toSeq)
    val query = Streams.windowed(input.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_buffers").start()
    val streamed = try {
      query.processAllAvailable()
      query.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.optimizedPlan
    } finally query.stop()
    // A changed buffer schema would break the state store on restart.
    assert(decimalSums(streamed) == Seq(DecimalType(28, 2)), streamed)
    val batch = Streams.windowed(eventsDf).queryExecution.optimizedPlan
    assert(decimalSums(batch).isEmpty, batch)
  }

  test("state-store reader exposes a running aggregation's state " +
      "as a batch table") {
    // Spark 4's statestore source (StateDataSource): read a
    // streaming query's checkpointed operator state offline — the
    // observability surface for debugging stuck aggregations without
    // touching the running query. The state of a windowed count must
    // equal the aggregate the query itself reports.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_statestore").toString
    val input = MemoryStream[Event]
    input.addData(eventsDf.as[Event].collect().toSeq)
    val query = Streams.windowed(input.toDF())
      .writeStream.outputMode("complete")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("ss_reader_out").start()
    try query.processAllAvailable() finally query.stop()
    val live = spark.table("ss_reader_out")
      .select("w_start", "event_type", "n")
      .collect().map(_.toSeq).toSet
    val state = spark.read.format("statestore").load(ckpt)
    // Schema: key struct (group columns) + value struct (agg state).
    // Tumbling windows optimize to a single timestamp grouping
    // expression, so the key struct carries the window START
    // directly under Catalyst's generated `_groupingexpression`.
    // The value struct carries the RAW aggregation buffers (count /
    // sum / isEmpty), not the output aliases — reading state means
    // reading the operator's internal accumulator layout.
    val fromState = state
      .select(col("key._groupingexpression").as("w_start"),
        col("key.event_type").as("event_type"),
        col("value.count").as("n"))
      .collect().map(_.toSeq).toSet
    assert(fromState == live && fromState.nonEmpty,
      "offline state read diverges from the query's own output")
  }

  test("late rows behind the watermark are dropped and counted") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = eventsDf.as[Event].collect().toSeq.sortBy(_.ts.getTime)
    val maxTs = rows.last.ts.getTime
    val input = MemoryStream[Event]
    // Batch 1: everything — advances the watermark to max(ts) − delay.
    input.addData(rows)
    val agg = input.toDF()
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val query = agg.writeStream.outputMode("update")
      .format("memory").queryName("late_out").start()
    try {
      query.processAllAvailable()
      // Batch 2: a rogue event 10 days BEFORE the corpus — provably
      // behind the watermark. It must be dropped, not aggregated.
      val late = rows.head.copy(event_id = -1L,
        ts = new java.sql.Timestamp(maxTs - 10L * 86400 * 1000),
        event_type = "late_type")
      input.addData(Seq(late))
      query.processAllAvailable()
      val out = spark.table("late_out")
      assert(out.filter(col("event_type") === "late_type").count() == 0,
        "late row leaked into the aggregate")
      val dropped = query.lastProgress.stateOperators
        .map(_.numRowsDroppedByWatermark).sum
      assert(dropped >= 1, s"expected a watermark drop, got $dropped")
    } finally query.stop()
  }

  test("streaming sliding-window agg equals batch; 4 windows per event") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    input.addData(eventsDf.as[Event].collect().toSeq)

    val query = Streams.sliding(
        input.toDF().withWatermark("ts", "10 minutes"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("slide_out").start()
    try query.processAllAvailable() finally query.stop()

    val streamed = spark.table("slide_out").collect().map(_.toSeq).toSet
    val batch = Streams.sliding(eventsDf).collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
    // every event contributes to exactly 4 hop windows
    val totalN = spark.table("slide_out")
      .agg(sum("n")).head().getLong(0)
    assert(totalN == 4 * eventsDf.count())
  }

  test("streaming CEP automaton equals the batch lazy-regex counts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val all = eventsDf.as[Event].collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
    // two event-time-ordered micro-batches: state must carry across
    val (b1, b2) = all.splitAt(all.length / 2)
    val input = MemoryStream[Event]
    val query = Streams.cepMatches(input.toDS())
      .toDF("user_id", "n_matches")
      .writeStream.outputMode("update")
      .format("memory").queryName("cep_out").start()
    try {
      input.addData(b1.toSeq); query.processAllAvailable()
      input.addData(b2.toSeq); query.processAllAvailable()
    } finally query.stop()
    // counts are monotone: the final value per user is the max
    val streamed = spark.table("cep_out")
      .groupBy("user_id").agg(max("n_matches").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Registry.all.find(_.name == "e_pattern").get.run(t)
      .collect().map(r => r.getAs[Long]("user_id") ->
        r.getAs[Long]("n_matches")).toMap
    assert(streamed == batch)
    assert(batch.values.exists(_ > 0))
  }

  test("streaming OHLC candles equal batch candles") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    input.addData(eventsDf.as[Event].collect().toSeq)

    val query = Streams.ohlc(
        input.toDF().withWatermark("ts", "10 minutes"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("ohlc_out").start()
    try query.processAllAvailable() finally query.stop()

    val streamed = spark.table("ohlc_out").collect().map(_.toSeq).toSet
    val batch = Streams.ohlc(eventsDf).collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming session_window agg equals the batch session query") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    input.addData(eventsDf.as[Event].collect().toSeq)

    val query = Streams.sessioned(
        input.toDF().withWatermark("ts", "10 minutes"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("sess_out").start()
    try query.processAllAvailable() finally query.stop()

    val streamed = spark.table("sess_out").collect().map(_.toSeq).toSet
    val batch = Streams.sessioned(eventsDf).collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
    // And the batch form is exactly the oracled e_session_window.
    val oracled = Registry.all.find(_.name == "e_session_window").get.run(t)
      .collect().map(_.toSeq).toSet
    assert(batch == oracled)
  }

  test("dropDuplicatesWithinWatermark dedups keys inside the horizon") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val rows = eventsDf.as[Event].collect().toSeq
    input.addData(rows ++ rows.take(50)) // replay some duplicates

    val query = Streams.dedupedWithinWatermark(input.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try query.processAllAvailable() finally query.stop()

    val out = spark.table("dedup_out")
    val keys = out.select("event_type", "user_id")
    assert(keys.count() == keys.distinct().count(),
      "watermark-scoped dedup emitted a duplicate key")
    assert(out.count() > 0)
    assert(out.count() <= eventsDf
      .select("event_type", "user_id").distinct().count())
  }

  test("Trigger.AvailableNow drains the backlog then terminates itself") {
    // The batch catch-up contract (nightly backfill over a streaming
    // pipeline): process EVERYTHING available at start, checkpoint,
    // and exit without an external stop() — late-arriving data waits
    // for the next scheduled run instead of keeping a cluster up.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val rows = eventsDf.as[Event].collect().toSeq
    input.addData(rows)

    val query = Streams.windowed(input.toDF())
      .writeStream.outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName("avail_out").start()
    // Self-terminates once the backlog is drained — no stop() call.
    assert(query.awaitTermination(120000),
      "AvailableNow query did not terminate on its own")

    val streamed = spark.table("avail_out").collect().map(_.toSeq).toSet
    val batch = Streams.windowed(eventsDf).collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
    // Data arriving AFTER termination stays unprocessed (next run's
    // work) — the table still holds exactly the drained backlog.
    input.addData(rows.take(10))
    Thread.sleep(500)
    assert(spark.table("avail_out").collect().map(_.toSeq).toSet == batch)
  }

  test("file-source backpressure: maxFilesPerTrigger bounds every " +
    "micro-batch while the drained total stays exact") {
    // The ingestion-rate lever at 100 TB: a backlogged directory must
    // drain in bounded micro-batches (state stores and sinks sized
    // for a batch, not the backlog), without losing or duplicating a
    // row. AvailableNow honors the source's read limit, so the
    // backlog drains as one bounded batch PER FILE.
    import org.apache.spark.sql.functions._
    val dir = "/tmp/graft_stream_bp"
    graft.sources.Formats.deleteRecursively(new java.io.File(dir))
    (0 until 4).foreach { i =>
      eventsDf.filter(col("event_id") % 4 === i).coalesce(1)
        .write.mode("append").parquet(dir)
    }
    val schema = spark.read.parquet(dir).schema
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        sizes.synchronized { sizes += b.count() }; ()
      }
      .option("checkpointLocation", s"$dir/_cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "drain did not self-terminate")
    val total = spark.read.parquet(dir).count()
    assert(sizes.length == 4, s"expected 4 bounded batches: $sizes")
    assert(sizes.sum == total, s"drained ${sizes.sum} of $total")
    // Bounded: no batch swallowed the backlog.
    assert(sizes.forall(_ < total))
  }

  test("stream-static broadcast enrich equals the batch join, keeps unknowns") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    input.addData(eventsDf.as[Event].collect().toSeq)

    val query = Streams.enriched(input.toDF(), t.customer)
      .writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()
    try query.processAllAvailable() finally query.stop()

    val streamed = spark.table("enrich_out").collect().map(_.toSeq).toSet
    val batch = Streams.enriched(eventsDf, t.customer)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
    // Left-join semantics: events whose user has no dim row survive
    // with the explicit UNKNOWN segment.
    val known = t.customer.select("c_custkey").as[Long].collect().toSet
    val unknowns = spark.table("enrich_out")
      .filter(col("segment") === "UNKNOWN").select("user_id")
      .as[Long].collect()
    assert(unknowns.forall(u => !known.contains(u)))
    assert(spark.table("enrich_out").count() == eventsDf.count())
  }

  test("stream-stream interval join equals the batch join") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = eventsDf.as[Event].collect().toSeq
    val clicksIn = MemoryStream[Event]
    val purchasesIn = MemoryStream[Event]
    clicksIn.addData(rows.filter(_.event_type == "click"))
    purchasesIn.addData(rows.filter(_.event_type == "purchase"))

    val query = Streams
      .clickPurchaseJoin(clicksIn.toDF(), purchasesIn.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("ss_join_out").start()
    try query.processAllAvailable() finally query.stop()

    val streamed = spark.table("ss_join_out").collect()
      .map(_.toSeq).toSet
    val clicks = eventsDf.filter(col("event_type") === "click")
    val purchases = eventsDf.filter(col("event_type") === "purchase")
    val batch = Streams.clickPurchaseJoin(clicks, purchases)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("stream-stream LEFT OUTER join: inner rows exact, outer rows " +
      "watermark-proven") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = eventsDf.as[Event].collect().toSeq
    val clicksIn = MemoryStream[Event]
    val purchasesIn = MemoryStream[Event]
    clicksIn.addData(rows.filter(_.event_type == "click"))
    purchasesIn.addData(rows.filter(_.event_type == "purchase"))

    val query = Streams
      .clickPurchaseOuterJoin(clicksIn.toDF(), purchasesIn.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("ss_outer_out").start()
    try query.processAllAvailable() finally query.stop()

    val out = spark.table("ss_outer_out").cache()
    val clicks = eventsDf.filter(col("event_type") === "click")
    val purchases = eventsDf.filter(col("event_type") === "purchase")
    // Matched rows are exactly the batch inner join.
    val streamedInner = out.filter(col("click_id").isNotNull)
      .collect().map(_.toSeq).toSet
    val batchInner = Streams.clickPurchaseJoin(clicks, purchases)
      .collect().map(_.toSeq).toSet
    assert(streamedInner == batchInner && streamedInner.nonEmpty)
    // Null-padded rows: a subset of the batch-unmatched purchases,
    // and complete for purchases safely behind the final watermark
    // (min over both inputs of max ts - 1h delay; margin for the
    // join window).
    val batchOuterIds = Streams.clickPurchaseOuterJoin(clicks, purchases)
      .filter(col("click_id").isNull)
      .select("purchase_id").collect().map(_.getLong(0)).toSet
    val streamedNull = out.filter(col("click_id").isNull).cache()
    val streamedNullIds = streamedNull
      .select("purchase_id").collect().map(_.getLong(0)).toSet
    assert(streamedNull.count() == streamedNullIds.size)
    assert(streamedNullIds.subsetOf(batchOuterIds))
    val wm = math.min(
      clicks.agg(max(col("ts"))).head().getTimestamp(0).getTime,
      purchases.agg(max(col("ts"))).head().getTimestamp(0).getTime
    ) - 2L * 3600 * 1000 // 1h delay + 1h window margin
    val mustEmit = Streams.clickPurchaseOuterJoin(clicks, purchases)
      .filter(col("click_id").isNull &&
        col("purchase_ts") < new java.sql.Timestamp(wm))
      .select("purchase_id").collect().map(_.getLong(0)).toSet
    assert(mustEmit.subsetOf(streamedNullIds),
      "watermark-cleared unmatched purchases must be emitted")
    assert(streamedNullIds.nonEmpty)
  }

  test("stream-stream RIGHT and FULL OUTER interval joins: inner exact, " +
      "null sides watermark-proven") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = eventsDf.as[Event].collect().toSeq
    val clicks = eventsDf.filter(col("event_type") === "click")
    val purchases = eventsDf.filter(col("event_type") === "purchase")
    val batchInner = Streams.clickPurchaseJoin(clicks, purchases)
      .collect().map(_.toSeq).toSet
    // Final-watermark horizon: rows this far behind BOTH inputs' max
    // event time provably cannot gain a partner (1h delay + 1h
    // interval margin), so their null-padded form MUST have emitted.
    val wm = math.min(
      clicks.agg(max(col("ts"))).head().getTimestamp(0).getTime,
      purchases.agg(max(col("ts"))).head().getTimestamp(0).getTime
    ) - 2L * 3600 * 1000

    for (joinType <- Seq("right_outer", "full_outer")) {
      val clicksIn = MemoryStream[Event]
      val purchasesIn = MemoryStream[Event]
      clicksIn.addData(rows.filter(_.event_type == "click"))
      purchasesIn.addData(rows.filter(_.event_type == "purchase"))
      val query = Streams
        .clickPurchaseJoinOf(clicksIn.toDF(), purchasesIn.toDF(), joinType)
        .writeStream.outputMode("append")
        .format("memory").queryName(s"ss_${joinType}_out").start()
      try query.processAllAvailable() finally query.stop()
      val out = spark.table(s"ss_${joinType}_out").cache()

      // Matched rows are exactly the batch inner join.
      val streamedInner = out
        .filter(col("click_id").isNotNull && col("purchase_id").isNotNull)
        .collect().map(_.toSeq).toSet
      assert(streamedInner == batchInner && streamedInner.nonEmpty,
        s"$joinType inner rows diverge from batch")

      val batchRef = Streams.clickPurchaseJoinOf(clicks, purchases, joinType)
      // Null-padded CLICK rows (right/full): subset of batch-unmatched
      // clicks, complete behind the watermark.
      val batchNullP = batchRef.filter(col("purchase_id").isNull)
        .select("click_id").collect().map(_.getLong(0)).toSet
      val streamedNullP = out.filter(col("purchase_id").isNull)
        .select("click_id", "click_ts").collect()
      val streamedNullPIds = streamedNullP.map(_.getLong(0)).toSet
      assert(streamedNullPIds.subsetOf(batchNullP),
        s"$joinType emitted a null-padded click the batch join lacks")
      val mustEmitClicks = batchRef.filter(col("purchase_id").isNull &&
          col("click_ts") < new java.sql.Timestamp(wm))
        .select("click_id").collect().map(_.getLong(0)).toSet
      assert(mustEmitClicks.subsetOf(streamedNullPIds),
        s"$joinType: watermark-cleared unmatched clicks must emit")
      assert(streamedNullPIds.nonEmpty, s"$joinType emitted no null side")

      if (joinType == "full_outer") {
        // The purchase null side must ALSO behave like the left_outer
        // variant: subset + watermark-complete.
        val batchNullC = batchRef.filter(col("click_id").isNull)
          .select("purchase_id").collect().map(_.getLong(0)).toSet
        val streamedNullC = out.filter(col("click_id").isNull)
          .select("purchase_id").collect().map(_.getLong(0)).toSet
        assert(streamedNullC.subsetOf(batchNullC))
        val mustEmitP = batchRef.filter(col("click_id").isNull &&
            col("purchase_ts") < new java.sql.Timestamp(wm))
          .select("purchase_id").collect().map(_.getLong(0)).toSet
        assert(mustEmitP.subsetOf(streamedNullC),
          "full_outer: watermark-cleared unmatched purchases must emit")
      }
    }
  }

  test("streaming as-of join (join → windowed latest-click reduce) " +
      "equals the batch reduction") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = eventsDf.as[Event].collect().toSeq
    val clicksIn = MemoryStream[Event]
    val purchasesIn = MemoryStream[Event]
    clicksIn.addData(rows.filter(_.event_type == "click"))
    purchasesIn.addData(rows.filter(_.event_type == "purchase"))
    val query = Streams
      .clickPurchaseAsof(clicksIn.toDF(), purchasesIn.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("ss_asof_out").start()
    try query.processAllAvailable() finally query.stop()
    val streamed = spark.table("ss_asof_out").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getTimestamp(2),
        r.getLong(3))).toMap
    // One row per purchase, never a candidate multiset.
    assert(streamed.nonEmpty)
    // Batch reference: same function on batch frames.
    val clicks = eventsDf.filter(col("event_type") === "click")
    val purchases = eventsDf.filter(col("event_type") === "purchase")
    val batch = Streams.clickPurchaseAsof(clicks, purchases).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getTimestamp(2),
        r.getLong(3))).toMap
    // Append-mode emission is watermark-gated, so streamed ⊆ batch
    // and complete well behind the final watermark.
    assert(streamed.keySet.subsetOf(batch.keySet))
    streamed.foreach { case (k, v) => assert(batch(k) == v) }
    // Independent ground truth on a sample: the chosen click really
    // is the latest same-user click in (pts - 1h, pts].
    val clickRows = rows.filter(_.event_type == "click")
    streamed.take(20).foreach { case (pid, (user, cts, cid)) =>
      val p = rows.find(_.event_id == pid).get
      val best = clickRows.filter(c => c.user_id == user &&
          !c.ts.after(p.ts) &&
          c.ts.getTime >= p.ts.getTime - 3600L * 1000)
        .maxBy(c => (c.ts.getTime, c.event_id))
      assert((best.ts, best.event_id) == (cts, cid),
        s"purchase $pid picked ($cts,$cid), truth ${(best.ts, best.event_id)}")
    }
    assert(streamed.size * 10 >= batch.size,
      "watermark should have cleared most purchases")
  }

  test("transformWithState running totals equal the batch aggregate") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Event]
      input.addData(eventsDf.as[Event].collect().toSeq)
      val query = Streams.runningTotals(input.toDS())
        .writeStream.outputMode("update")
        .format("memory").queryName("tws_out").start()
      try query.processAllAvailable() finally query.stop()

      // Update mode: last emitted row per user is the final total.
      val streamed = spark.table("tws_out").groupBy("user_id")
        .agg(max(col("n_events")).as("n_events"),
          max(col("sum_value")).as("sum_value"))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val batch = eventsDf.groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("v"))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(streamed.keySet == batch.keySet && streamed.nonEmpty)
      streamed.foreach { case (u, (n, v)) =>
        assert(n == batch(u)._1, s"count mismatch for user $u")
        assert(math.abs(v - batch(u)._2) < 0.01,
          s"sum mismatch for user $u: $v vs ${batch(u)._2}")
      }
    } finally spark.conf.unset(
      "spark.sql.streaming.stateStore.providerClass")
  }

  test("flatMapGroupsWithState emits the same sessions as session_window") {
    import spark.implicits._
    val emitted = Streams.sessionRows(eventsDf.as[Event], flushTail = true)
      .collect()
      .map(s => (s.user_id, s.s_start, s.n_events)).toSet
    // e_session_window is oracled; its (user, start, count) rows are
    // the ground truth for the emitted sessions.
    val oracled = Registry.all.find(_.name == "e_session_window").get.run(t)
      .select(col("user_id"), col("s_start"), col("n_events"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(emitted == oracled && emitted.nonEmpty)
  }

  test("chained windowed aggregations: daily rollup of hourly windows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = eventsDf.as[Event].collect().toSeq
    // Append mode only emits days the watermark has closed — the
    // far-future sentinel closes every real day; its own rows are
    // filtered out of the comparison.
    val sentinel = Event(-1L,
      new java.sql.Timestamp(rows.map(_.ts.getTime).max + 3L * 86400 * 1000),
      -1L, "noop", 0.0)
    val input = MemoryStream[Event]
    val query = Streams.dailyRollup(input.toDF(), stream = true)
      .writeStream.outputMode("append")
      .format("memory").queryName("daily_out").start()
    try {
      input.addData(rows)
      query.processAllAvailable()
      input.addData(Seq(sentinel))
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.table("daily_out")
      .filter(col("event_type") =!= "noop")
      .collect().map(_.toSeq).toSet
    val batch = Streams.dailyRollup(eventsDf, stream = false)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty,
      s"stream ${streamed.size} days vs batch ${batch.size}")
  }

  test("event-time timeout emits closed sessions on watermark advance") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = eventsDf.as[Event].collect().toSeq.sortBy(_.ts.getTime)
    // Split at the median, then hold back the last 5 minutes of
    // chunk 1 into chunk 2: those stragglers arrive OUT OF ORDER in
    // the second batch but above the 10-minute watermark, exercising
    // the cross-batch late-merge path (min/max session extension).
    val median = rows(rows.length / 2).ts.getTime
    val (early, rest) = rows.partition(_.ts.getTime <= median)
    val (stragglers, chunk1) =
      early.partition(_.ts.getTime > median - 5L * 60 * 1000)
    val chunk2 = stragglers ++ rest
    // Far-future sentinel for a synthetic user: advances the watermark
    // past every real session's deadline so the tail sessions time out
    // and emit; the sentinel's own session stays open and is excluded.
    val sentinel = Event(-1L,
      new java.sql.Timestamp(rows.last.ts.getTime + 3L * 3600 * 1000),
      -1L, "noop", 0.0)
    val input = MemoryStream[Event]
    val query = Streams.sessionRowsStream(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_emit").start()
    try {
      input.addData(chunk1)
      query.processAllAvailable()
      input.addData(chunk2)
      query.processAllAvailable()
      input.addData(Seq(sentinel))
      query.processAllAvailable()
    } finally query.stop()
    val emitted = spark.table("sess_emit")
      .filter(col("user_id") >= 0)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    val oracled = Registry.all.find(_.name == "e_session_window").get.run(t)
      .select(col("user_id"), col("s_start"), col("n_events"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(emitted == oracled && emitted.nonEmpty,
      s"emitted ${emitted.size} sessions vs oracle ${oracled.size}")
  }

  test("stateful sessionization equals the SQL sessionize query") {
    import spark.implicits._
    val stateful = Streams.sessionCounts(eventsDf.as[Event])
      .collect().map(u => u.user_id -> (u.n_sessions, u.n_events)).toMap
    val sql = Registry.all.find(_.name == "e_sessionize").get.run(t)
      .select(col("user_id"), col("n_sessions").cast("long"),
        col("n_events"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(stateful == sql && stateful.nonEmpty)
  }

  test("streaming CDC apply: versioned snapshots converge to the batch merge") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = t.orders.select(col("o_orderkey"), col("o_totalprice"))
      .filter(col("o_orderkey") < 500)
    val dir = "/tmp/graft_cdc_snap"
    org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(dir), true)
    base.write.mode("overwrite").parquet(s"$dir/v0")
    // Overlapping keys across batches with increasing seq — the final
    // snapshot must reflect the LAST change per key.
    val changes = (0 until 90).map(i =>
      Streams.Change(i * 7 % 500, 1000.0 + i, i.toLong))
    val input = MemoryStream[Streams.Change]
    val ver = new java.util.concurrent.atomic.AtomicInteger(0)
    val query = input.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val v = ver.get()
        val snap = spark.read.parquet(s"$dir/v$v")
        Streams.cdcApplyBatch(snap, batch)
          .write.mode("overwrite").parquet(s"$dir/v${v + 1}")
        ver.incrementAndGet()
        ()
      }
      .start()
    try {
      input.addData(changes.take(30)); query.processAllAvailable()
      input.addData(changes.slice(30, 60)); query.processAllAvailable()
      input.addData(changes.slice(60, 90)); query.processAllAvailable()
    } finally query.stop()
    assert(ver.get() >= 2, "expected multiple snapshot versions")
    val finalSnap = spark.read.parquet(s"$dir/v${ver.get()}")
    val expected = Streams.cdcApplyBatch(base, changes.toDF())
    assert(finalSnap.except(expected).count() == 0 &&
      expected.except(finalSnap).count() == 0)
  }

  test("idempotent sink: replaying a micro-batch never duplicates") {
    val dir = "/tmp/graft_idem_sink"
    org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(dir), true)
    val b0 = eventsDf.filter(col("event_id") < 100)
    val b1 = eventsDf.filter(col("event_id") >= 100 &&
      col("event_id") < 150)
    val sink = Streams.idempotentSink(dir) _
    sink(b0, 0L)
    sink(b1, 1L)
    val once = spark.read.parquet(dir).collect().map(_.toSeq).toSet
    // Failure recovery re-delivers batch 1 — same id, same rows. The
    // dynamic partition overwrite must leave the sink bit-identical.
    sink(b1, 1L)
    val replayed = spark.read.parquet(dir).collect().map(_.toSeq).toSet
    assert(replayed == once && once.nonEmpty)
    assert(spark.read.parquet(dir).count() == 150)
    // A NEW batch id still lands: the overwrite scope is one batch
    // partition, not the table.
    sink(eventsDf.filter(col("event_id") >= 150 &&
      col("event_id") < 160), 2L)
    assert(spark.read.parquet(dir).count() == 160)
  }

  test("AvailableNow resumes from the checkpoint and reads only the delta") {
    // The scheduled-incremental contract (the nightly 100 TB catch-up
    // job): run 1 drains the backlog and checkpoints; run 2 with the
    // SAME checkpoint processes ONLY files that arrived in between.
    val root = "/tmp/graft_availnow_inc"
    org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(root), true)
    val srcDir = s"$root/src"
    val ckpt = s"$root/ckpt"
    val outDir = s"$root/out"
    eventsDf.filter(col("event_id") < 200)
      .write.mode("append").parquet(srcDir)
    val schema = eventsDf.schema
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    def runOnce(): Long = {
      seen.set(0)
      val q = spark.readStream.schema(schema).parquet(srcDir)
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
            id: Long) =>
          seen.addAndGet(batch.count())
          Streams.idempotentSink(outDir)(batch, id)
          ()
        }
        .start()
      assert(q.awaitTermination(120000), "run did not self-terminate")
      seen.get()
    }
    assert(runOnce() == 200, "run 1 must drain the whole backlog")
    eventsDf.filter(col("event_id") >= 200 && col("event_id") < 260)
      .write.mode("append").parquet(srcDir)
    // Run 2: only the 60 delta rows, never a reprocess of the 200.
    assert(runOnce() == 60, "run 2 must read only the delta")
    assert(spark.read.parquet(outDir).count() == 260)
  }

  test("e_stream_dedup_corpus: per-batch dedup against the persisted " +
      "index equals batch dedup, and a replayed batch is a no-op") {
    val dir = "/tmp/graft_stream_dedup_corpus"
    org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(dir), true)
    // Duplicate-rich fingerprints: bucket docs into 40 fp classes so
    // every batch carries both novel and already-indexed prints.
    val fpDocs = t.documents.select(
      md5((col("doc_id") % 40).cast("string").cast("binary")).as("fp"),
      col("doc_id"))
    val sink = Streams.dedupIngestSink(dir) _
    def slice(r: Int) = fpDocs.filter(col("doc_id") % 3 === r)
    sink(slice(0), 0L)
    sink(slice(1), 1L)
    val afterOnce = spark.read.parquet(dir).collect()
      .map(_.toSeq).toSet
    // Failure recovery re-delivers batch 1 (same id, same rows): the
    // strictly-earlier-batch fence must leave the index bit-identical.
    sink(slice(1), 1L)
    assert(spark.read.parquet(dir).collect().map(_.toSeq).toSet
      == afterOnce && afterOnce.nonEmpty)
    sink(slice(2), 2L)
    val idx = spark.read.parquet(dir)
    // Exactly-once membership: every fingerprint appears ONCE.
    assert(idx.groupBy("fp").count().filter(col("count") > 1).count() == 0)
    // Stream == batch dedup: same fingerprint SET as one-shot exact
    // dedup of the whole corpus, and per fp the kept doc is the
    // smallest doc_id within the FIRST batch that carried the print.
    val rows = fpDocs.collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val expected = rows.groupBy(_._1).map { case (fp, ds) =>
      val firstBatch = ds.map(_._2 % 3).min
      (fp, ds.filter(_._2 % 3 == firstBatch).map(_._2).min, firstBatch)
    }.toSet
    // Partition-column inference types batch_id as INT on read.
    val got = idx.collect()
      .map(r => (r.getAs[String]("fp"), r.getAs[Long]("keep_id"),
        r.getAs[Number]("batch_id").longValue())).toSet
    assert(got == expected)
    // And the same loop driven through a REAL streaming query
    // (foreachBatch over a memory source) lands the identical
    // fingerprint set.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir2 = "/tmp/graft_stream_dedup_corpus2"
    org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(dir2), true)
    val tuples = rows.map { case (fp, id) => (id, fp) }
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "fp")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        Streams.dedupIngestSink(dir2)(b.select("fp", "doc_id"), id)
      }
      .start()
    try {
      input.addData(tuples.filter(_._1 % 3 == 0).toSeq)
      q.processAllAvailable()
      input.addData(tuples.filter(_._1 % 3 != 0).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamedFps = spark.read.parquet(dir2)
      .select("fp").collect().map(_.getString(0)).toSet
    assert(streamedFps == expected.map(_._1))
    assert(spark.read.parquet(dir2).groupBy("fp").count()
      .filter(col("count") > 1).count() == 0)
    // An ALL-DUPLICATE batch writes nothing (a partitioned empty
    // write would leave a _SUCCESS-only dir poisoning later reads),
    // and its replay is equally a no-op; null fingerprints never
    // enter the index.
    import spark.implicits._
    val before = spark.read.parquet(dir).collect().map(_.toSeq).toSet
    val dupBatch = fpDocs.limit(20)
      .unionByName(Seq((null: String, 999999L)).toDF("fp", "doc_id"))
    Streams.dedupIngestSink(dir)(dupBatch, 3L)
    Streams.dedupIngestSink(dir)(dupBatch, 3L) // replay
    val after = spark.read.parquet(dir).collect().map(_.toSeq).toSet
    assert(after == before, "all-duplicate batch must be a no-op")
  }

  test("e_stream_vector_ingest: streamed IVF ingest equals a batch " +
      "append at the same centroids; replay and overlap are no-ops; " +
      "the drift card reads the live streamed index") {
    import graft.ann.IvfIndex
    import graft.functions.VectorFns
    val root = "/tmp/graft_stream_vec_root"
    val deltaDir = "/tmp/graft_stream_vec_delta"
    val batchRoot = "/tmp/graft_stream_vec_batchtwin"
    Seq(root, deltaDir, batchRoot).foreach(d =>
      graft.sources.Formats.deleteRecursively(new java.io.File(d)))
    val corpus = t.embeddings.select(col("vec_id"),
      VectorFns.toDouble(col("embedding")).as("v"))
    val base = corpus.filter(col("vec_id") % 5 =!= 0)
    IvfIndex.initServing(base, root, c = 16, iters = 2)
    val sink = Streams.vectorIngestSink(root, deltaDir) _
    // Batch 0: a third of the held-out vectors plus rows ALREADY in
    // the base generation (must drop) and a null id (no vector).
    val held = corpus.filter(col("vec_id") % 5 === 0)
    import spark.implicits._
    def slice(r: Int) = held.filter(col("vec_id") % 3 === r)
    sink(slice(0)
      .unionByName(base.limit(7))
      .unionByName(Seq((null.asInstanceOf[java.lang.Long],
        Seq.empty[Double])).toDF("vec_id", "v")
        .select(col("vec_id").cast("long"), col("v"))), 0L)
    sink(slice(1).unionByName(slice(0).limit(5)), 1L) // overlap drops
    val afterOnce = spark.read.parquet(deltaDir).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Number]("ingest_batch").longValue())).toSet
    // Replay batch 1 (same id, same rows): bit-identical delta state.
    sink(slice(1).unionByName(slice(0).limit(5)), 1L)
    val afterReplay = spark.read.parquet(deltaDir).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Number]("ingest_batch").longValue())).toSet
    assert(afterReplay == afterOnce && afterOnce.nonEmpty)
    sink(slice(2), 2L)
    // Exactly-once membership: every held-out id exactly once, no
    // base id ever re-enters, nulls never land.
    val got = spark.read.parquet(deltaDir)
      .groupBy("vec_id").count()
    assert(got.filter(col("count") > 1).count() == 0)
    val deltaIds = spark.read.parquet(deltaDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val heldIds = held.select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(deltaIds == heldIds)
    // STREAM == BATCH APPEND: the same base index with the held-out
    // vectors physically appended at the SAME fixed centroids must
    // probe identically to base ∪ streamed deltas.
    new java.io.File(batchRoot).mkdirs()
    spark.read.parquet(s"$root/gen_1/centroids")
      .write.parquet(s"$batchRoot/centroids")
    IvfIndex.appendToIndex(spark, batchRoot, base.unionByName(held))
    val queries = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val streamed = IvfIndex.probeWithDeltas(spark, s"$root/gen_1",
      deltaDir, queries, nprobe = 4, topk = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batched = IvfIndex.probeIndex(spark, batchRoot, queries,
      nprobe = 4, topk = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batched && streamed.nonEmpty)
    // The drift card as the live streaming metric: base ∪ delta in
    // one plan, the delta generation marked by its partition column.
    val baseCells = spark.read.parquet(s"$root/gen_1/cells")
      .select(col("cell"), col("vec_id"), col("v"),
        lit(false).as("is_new"))
    val deltaCells = spark.read.parquet(deltaDir)
      .select(col("cell"), col("vec_id"), col("v"),
        lit(true).as("is_new"))
    val card = IvfIndex.driftCardOf(baseCells.unionByName(deltaCells),
      spark.read.parquet(s"$root/gen_1/centroids"),
      isNew = col("is_new"), growthCap = 1.5).collect()
    assert(card.map(r => r.getAs[Long]("n_base") +
      r.getAs[Long]("n_new")).sum ==
      base.count() + held.count())
    assert(card.map(_.getAs[Long]("n_new")).sum == held.count())
    // Same-distribution stream → the metric's quiet zero state.
    assert(card.count(_.getAs[Int]("retrain") == 0) > card.length / 2)
  }

  test("e_stream_auto_retrain: quiet batches never compact; a " +
      "drifted burst flips the generation and retires the absorbed " +
      "deltas; replay stays a no-op across the swap") {
    import graft.ann.IvfIndex
    import graft.functions.VectorFns
    val root = "/tmp/graft_stream_autoretrain_root"
    val deltaDir = "/tmp/graft_stream_autoretrain_delta"
    Seq(root, deltaDir).foreach(d =>
      graft.sources.Formats.deleteRecursively(new java.io.File(d)))
    val corpus = t.embeddings.select(col("vec_id"),
      VectorFns.toDouble(col("embedding")).as("v"))
    IvfIndex.initServing(corpus.filter(col("vec_id") % 5 =!= 0),
      root, c = 16, iters = 2)
    // flagFrac gates on flagged-cell MASS share of the new rows: a
    // same-distribution slice keeps most of its mass in green cells
    // (well under half), while a shifted burst puts ~3/4 of the
    // delta mass into flagged cells.
    val sink = Streams.autoRetrainSink(root, deltaDir,
      growthCap = 1.5, flagFrac = 0.5) _
    def shifted(offset: Long) = corpus.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + offset).as("vec_id"),
        expr("transform(v, x -> x + 3.0d)").as("v"))
    // Quiet batch: a same-distribution held-out slice — the card
    // stays green, no compaction, deltas accumulate.
    assert(sink(corpus.filter(col("vec_id") % 5 === 0)
      .filter(col("vec_id") % 3 === 0), 0L) == "gen_1")
    assert(spark.read.parquet(deltaDir).count() > 0)
    // Drifted burst: every component +3.0 under new ids — the card
    // over base ∪ delta flags, the loop compacts to gen_2, and the
    // absorbed delta layout retires.
    assert(sink(shifted(1000000L), 1L) == "gen_2")
    assert(!new java.io.File(deltaDir).exists(),
      "absorbed deltas must retire after the swap")
    // Absorption is row-complete: the new base covers the original
    // base, the quiet batch, and the burst — each id exactly once.
    val gen2Ids = spark.read.parquet(s"$root/gen_2/cells")
      .groupBy("vec_id").count()
    assert(gen2Ids.filter(col("count") > 1).count() == 0)
    val expect = corpus.filter(col("vec_id") % 5 =!= 0).count() +
      corpus.filter(col("vec_id") % 5 === 0 &&
        col("vec_id") % 3 === 0).count() +
      corpus.filter(col("vec_id") % 5 === 0).count()
    assert(gen2Ids.count() == expect)
    // Replay of the compacted batch (same id, same rows): its ids
    // are in the serving BASE now, so novel recomputes to nothing —
    // no delta dir reappears, the generation holds.
    assert(sink(shifted(1000000L), 1L) == "gen_2")
    assert(!new java.io.File(deltaDir).exists())
    // Post-compaction, the SAME drift class is quiet: the retrained
    // centroids summarize the shifted region, so a further shifted
    // batch ingests without another swap.
    assert(sink(shifted(2000000L), 2L) == "gen_2")
    assert(spark.read.parquet(deltaDir).count() ==
      corpus.filter(col("vec_id") % 5 === 0).count())
    // And the served view stays probe-consistent across the whole
    // loop: base ∪ live delta returns a full top-k for every query.
    val queries = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val probed = IvfIndex.probeWithDeltas(spark,
      IvfIndex.servingDir(root), deltaDir, queries,
      nprobe = 4, topk = 3).collect()
    assert(probed.length == queries.count() * 3)
  }

  test("e_stream_neardup: near-dups are refused at the admit gate — " +
      "vs the index, within the batch, and exactly-once under replay") {
    import spark.implicits._
    val indexDir = "/tmp/graft_stream_neardup_idx"
    graft.sources.Formats.deleteRecursively(new java.io.File(indexDir))
    val sink = Streams.neardupIngestSink(indexDir, tau = 0.5) _
    // Long texts: near-copies share almost all 5-char shingles.
    val textA = ("the quick brown fox jumps over the lazy dog " * 6).trim
    val textB = ("pack my box with five dozen liquor jugs now " * 6).trim
    val textC = ("sphinx of black quartz judge my vow forever " * 6).trim
    val textD = ("how vexingly quick daft zebras jump around! " * 6).trim
    // Seed: two dissimilar docs — both admitted.
    val t0 = sink(Seq((1L, textA), (2L, textB)).toDF("doc_id", "text"), 0L)
    assert(t0 == Streams.NeardupTick(0L, 2, 2, 0, 2))
    // Batch 1: 3 = exact copy of indexed textA (near-dup vs index),
    // 4 = textA + suffix (near-copy vs index), 5 = fresh,
    // 1 = already-indexed id (identity, not novel).
    val b1 = Seq((3L, textA), (4L, textA + " tail"), (5L, textC),
      (1L, textA)).toDF("doc_id", "text")
    val t1 = sink(b1, 1L)
    assert(t1 == Streams.NeardupTick(1L, 4, 3, 2, 1))
    // Batch 2: 6 fresh, 7 = near-copy of 6 IN THE SAME BATCH — the
    // within-batch smaller-id rule drops 7, admits 6.
    val t2 = sink(Seq((6L, textD), (7L, textD + " tail"))
      .toDF("doc_id", "text"), 2L)
    assert(t2 == Streams.NeardupTick(2L, 2, 2, 1, 1))
    // The index holds exactly the admitted docs' band rows.
    def indexed() = spark.read.parquet(indexDir)
      .select("doc_id").distinct().as[Long].collect().sorted.toSeq
    assert(indexed() == Seq(1L, 2L, 5L, 6L))
    val rowsBefore = spark.read.parquet(indexDir).count()
    assert(rowsBefore == 4 * 16, "16 band rows per admitted doc")
    // Replay of batch 1: the fence hides its own partition, the
    // admit set recomputes identically, the partition rewrites
    // bit-identically — tick equal, index unchanged.
    assert(sink(b1, 1L) == t1)
    assert(indexed() == Seq(1L, 2L, 5L, 6L))
    assert(spark.read.parquet(indexDir).count() == rowsBefore)
    graft.sources.Formats.deleteRecursively(new java.io.File(indexDir))
  }

  test("auto-retrain crash recovery: the retirement marker retires " +
      "absorbed deltas post-flip and keeps un-absorbed deltas pre-flip") {
    import graft.ann.IvfIndex
    import graft.functions.VectorFns
    val root = "/tmp/graft_stream_marker_root"
    val deltaDir = "/tmp/graft_stream_marker_delta"
    val marker = new java.io.File(s"$deltaDir.RETIRING")
    Seq(root, deltaDir).foreach(d =>
      graft.sources.Formats.deleteRecursively(new java.io.File(d)))
    marker.delete()
    val corpus = t.embeddings.select(col("vec_id"),
      VectorFns.toDouble(col("embedding")).as("v"))
    IvfIndex.initServing(corpus.filter(col("vec_id") % 5 =!= 0),
      root, c = 16, iters = 2)
    val sink = Streams.autoRetrainTick(root, deltaDir,
      growthCap = 1.5, flagFrac = 0.5) _
    // Quiet batch leaves a live delta layout.
    val quiet = corpus.filter(col("vec_id") % 5 === 0)
    sink(quiet.filter(col("vec_id") % 3 === 0), 0L)
    val deltaRows = spark.read.parquet(deltaDir).count()
    assert(deltaRows > 0)
    // CRASH WINDOW A (marker written, flip never committed): the
    // recovery must consume the marker and KEEP the deltas — they
    // are still the un-absorbed truth.
    java.nio.file.Files.write(marker.toPath, "gen_2\n".getBytes("UTF-8"))
    val tA = sink(quiet.filter(col("vec_id") % 3 === 0), 0L) // replay
    assert(!marker.exists(), "recovery must consume the marker")
    assert(spark.read.parquet(deltaDir).count() == deltaRows,
      "pre-flip deltas must survive recovery")
    assert(tA.genAfter == "gen_1")
    // CRASH WINDOW B (flip committed, delta delete lost): stage by
    // compacting manually — absorb base ∪ delta into gen_2, flip,
    // write the marker, but 'crash' before the delete.
    IvfIndex.retrainAndSwapFrom(root,
      spark.read.parquet(s"${root}/gen_1/cells").select("vec_id", "v")
        .unionByName(spark.read.parquet(deltaDir)
          .select("vec_id", "v")),
      c = 16, iters = 2)
    java.nio.file.Files.write(marker.toPath, "gen_2\n".getBytes("UTF-8"))
    val tB = sink(quiet.filter(col("vec_id") % 3 === 0), 0L)
    assert(!marker.exists())
    // The replayed batch's ids are in the gen_2 base now: recovery
    // retired the stale layout and the replay recomputed novel = ∅.
    assert(!new java.io.File(deltaDir).exists(),
      "post-flip deltas must retire and the replay must re-add nothing")
    assert(tB.genAfter == "gen_2" && tB.massNew == 0L)
  }

  test("initServing persists PARAMS and the compaction retrains at " +
      "the declared capacity (no centroid-count ratchet)") {
    import graft.ann.IvfIndex
    import graft.functions.VectorFns
    val root = "/tmp/graft_stream_params_root"
    graft.sources.Formats.deleteRecursively(new java.io.File(root))
    val corpus = t.embeddings.select(col("vec_id"),
      VectorFns.toDouble(col("embedding")).as("v"))
    IvfIndex.initServing(corpus, root, c = 16, iters = 2)
    assert(IvfIndex.servingParams(root) == Some((16, 2)))
    // A layout without PARAMS reports None (the fallback path).
    assert(IvfIndex.servingParams("/tmp/graft_no_such_root").isEmpty)
  }

  test("compactIngestIndex: membership survives, the fence survives, " +
      "replay of an absorbed batch stays a no-op, re-compact idempotent") {
    import spark.implicits._
    val indexDir = "/tmp/graft_stream_compact_idx"
    graft.sources.Formats.deleteRecursively(new java.io.File(indexDir))
    val sink = Streams.dedupIngestSink(indexDir) _
    sink(Seq(("a", 1L), ("b", 2L)).toDF("fp", "doc_id"), 0L)
    sink(Seq(("b", 3L), ("c", 4L)).toDF("fp", "doc_id"), 1L)
    val b2 = Seq(("d", 5L)).toDF("fp", "doc_id")
    sink(b2, 2L)
    def members() = spark.read.parquet(indexDir)
      .select("fp", "keep_id").as[(String, Long)].collect().sorted.toSeq
    def partitions() = new java.io.File(indexDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
      .map(_.getName).sorted.toSeq
    val before = members()
    assert(before == Seq(("a", 1L), ("b", 2L), ("c", 4L), ("d", 5L)))
    assert(partitions().length == 3)
    // Compact: 3 partitions absorbed into −1, membership identical.
    assert(Streams.compactIngestIndex(spark, indexDir, Seq("fp")) == 3)
    assert(partitions() == Seq("batch_id=-1"))
    assert(members() == before)
    // Replay of an absorbed batch: its prints live in −1 now, the
    // fence shows them (−1 ≠ 2), novel recomputes to ∅ — no
    // partition reappears.
    sink(b2, 2L)
    assert(partitions() == Seq("batch_id=-1"))
    assert(members() == before)
    // Post-compaction ingest appends normally under its own id.
    sink(Seq(("e", 6L), ("a", 7L)).toDF("fp", "doc_id"), 3L)
    assert(partitions() == Seq("batch_id=-1", "batch_id=3"))
    assert(members() == before :+ (("e", 6L)))
    // Re-compact: idempotent (the −1 partition re-absorbs itself).
    assert(Streams.compactIngestIndex(spark, indexDir, Seq("fp")) == 1)
    assert(partitions() == Seq("batch_id=-1"))
    assert(members() == before :+ (("e", 6L)))
    // RESTARTED batchId sequence after a compaction: a fresh query
    // reuses low ids over the same index. Compaction moved every
    // print into −1, so the reused id collides with NO live
    // partition — old membership survives, only true novelty lands.
    // (Without the compaction, the reused id's dynamic overwrite
    // would REPLACE that partition's prints — the documented
    // not-in-contract case.)
    sink(Seq(("b", 8L), ("f", 9L)).toDF("fp", "doc_id"), 0L)
    assert(members() == (before :+ (("e", 6L))) :+ (("f", 9L)))
    graft.sources.Formats.deleteRecursively(new java.io.File(indexDir))
  }

  test("randomized ingest/compaction soak: membership equals " +
      "first-wins exact dedup after every batch, compactions " +
      "interleaved at random") {
    import spark.implicits._
    val indexDir = "/tmp/graft_stream_soak_idx"
    graft.sources.Formats.deleteRecursively(new java.io.File(indexDir))
    val sink = Streams.dedupIngestSink(indexDir) _
    val rnd = new scala.util.Random(42)
    val expected = scala.collection.mutable.Map.empty[String, Long]
    var nextDoc = 0L
    (0 until 6).foreach { b =>
      val rows = (0 until 30).map { _ =>
        nextDoc += 1
        (s"fp${rnd.nextInt(40)}", nextDoc)
      }
      // First-wins reference semantics: a fingerprint keeps the min
      // doc_id of the batch that FIRST introduced it.
      rows.groupBy(_._1).foreach { case (fp, g) =>
        if (!expected.contains(fp)) expected(fp) = g.map(_._2).min
      }
      sink(rows.toDF("fp", "doc_id"), b.toLong)
      if (rnd.nextBoolean())
        Streams.compactIngestIndex(spark, indexDir, Seq("fp"))
      val got = spark.read.parquet(indexDir)
        .select("fp", "keep_id").as[(String, Long)].collect().toMap
      assert(got == expected.toMap, s"membership diverged after batch $b")
    }
    // Post-soak: one more compaction and a replay of the LAST batch
    // leave membership untouched.
    Streams.compactIngestIndex(spark, indexDir, Seq("fp"))
    val last = spark.read.parquet(indexDir).count()
    assert(last == expected.size)
    graft.sources.Formats.deleteRecursively(new java.io.File(indexDir))
  }

  test("compactIngestIndex on the near-dup index: admit decisions " +
      "are unchanged across the compaction") {
    import spark.implicits._
    val indexDir = "/tmp/graft_stream_compact_nd"
    graft.sources.Formats.deleteRecursively(new java.io.File(indexDir))
    val sink = Streams.neardupIngestSink(indexDir, tau = 0.5) _
    val textA = ("the quick brown fox jumps over the lazy dog " * 6).trim
    val textB = ("pack my box with five dozen liquor jugs now " * 6).trim
    sink(Seq((1L, textA)).toDF("doc_id", "text"), 0L)
    sink(Seq((2L, textB)).toDF("doc_id", "text"), 1L)
    assert(Streams.compactIngestIndex(spark, indexDir,
      Seq("doc_id", "band")) == 2)
    // A near-copy of an ABSORBED doc is still refused; a fresh doc
    // is still admitted — the posting lists survived the rewrite.
    val t = sink(Seq((3L, textA + " tail"),
      (4L, ("sphinx of black quartz judge my vow forever " * 6).trim))
      .toDF("doc_id", "text"), 2L)
    assert(t == Streams.NeardupTick(2L, 2, 2, 1, 1))
    assert(spark.read.parquet(indexDir).select("doc_id").distinct()
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 4L))
    graft.sources.Formats.deleteRecursively(new java.io.File(indexDir))
  }

  test("e_stream_drift: the dashboard series records one truthful " +
      "row per batch id across quiet, burst and replay") {
    import graft.ann.IvfIndex
    import graft.functions.VectorFns
    val root = "/tmp/graft_stream_drift_root"
    val deltaDir = "/tmp/graft_stream_drift_delta"
    val metricsDir = "/tmp/graft_stream_drift_metrics"
    Seq(root, deltaDir, metricsDir).foreach(d =>
      graft.sources.Formats.deleteRecursively(new java.io.File(d)))
    val corpus = t.embeddings.select(col("vec_id"),
      VectorFns.toDouble(col("embedding")).as("v"))
    IvfIndex.initServing(corpus.filter(col("vec_id") % 5 =!= 0),
      root, c = 16, iters = 2)
    val sink = Streams.driftDashboardSink(root, deltaDir,
      growthCap = 1.5, flagFrac = 0.5, metricsDir) _
    def shifted(offset: Long) = corpus.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + offset).as("vec_id"),
        expr("transform(v, x -> x + 3.0d)").as("v"))
    // Partition-column type inference reads batch_id=N dirs as INT;
    // normalize to the tick's Long.
    def series() = spark.read.parquet(metricsDir)
      .withColumn("batch_id", col("batch_id").cast("long"))
      .orderBy("batch_id").collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[String]("gen_before"),
        r.getAs[String]("gen_after"), r.getAs[Long]("mass_new"),
        r.getAs[Long]("mass_flagged"), r.getAs[Boolean]("retrained")))
    // Quiet batch: the row records real new-row mass, a sub-gate
    // flagged share, no generation flip.
    val t0 = sink(corpus.filter(col("vec_id") % 5 === 0)
      .filter(col("vec_id") % 3 === 0), 0L)
    assert(!t0.retrained && t0.genBefore == "gen_1" &&
      t0.genAfter == "gen_1")
    assert(t0.massNew > 0 &&
      t0.massFlagged.toDouble / t0.massNew <= 0.5)
    assert(series().toSeq == Seq((0L, "gen_1", "gen_1", t0.massNew,
      t0.massFlagged, false)))
    // Drifted burst: the row records the flip and the flagged mass
    // that triggered it.
    val t1 = sink(shifted(1000000L), 1L)
    assert(t1.retrained && t1.genBefore == "gen_1" &&
      t1.genAfter == "gen_2")
    assert(t1.massFlagged.toDouble / t1.massNew > 0.5)
    // Replay of the compacted batch: same id, but the layout has
    // absorbed its rows — the row REWRITES to the replay's truthful
    // observation (mass 0, no flip), and the id still holds exactly
    // one row (the partition overwrite, not an append).
    val t1r = sink(shifted(1000000L), 1L)
    assert(!t1r.retrained && t1r.massNew == 0L &&
      t1r.genBefore == "gen_2" && t1r.genAfter == "gen_2")
    val s = series()
    assert(s.length == 2)
    assert(s(1) == ((1L, "gen_2", "gen_2", 0L, 0L, false)))
    // The series is consistent with the layout: the last row's
    // gen_after IS the serving generation.
    assert(s.last._3 == IvfIndex.currentGen(root))
  }
}
