package graft

import graft.streaming.{CorpusStream, EventStream}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Streaming ↔ batch parity: the same event-time transforms must produce
  * identical results whether the events parquet is read as a batch or
  * drained through a stream. */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  test("streaming tumbling agg equals the batch q60 result") {
    // streaming sources read directories; stage the fixture file into one
    val dir = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), dir.resolve("part-0.parquet"))
    val stream = EventStream.readEvents(spark, dir.toString)
    val q = EventStream.runToMemory(EventStream.tumblingAgg(stream), "tumble", OutputMode.Complete())
    try {
      val streamed = spark.table("tumble")
        .select(col("wstart"), col("event_type"), col("n"))
        .orderBy(col("wstart"), col("event_type"))
        .collect()
      val batch = operators.EventTime.q60Tumbling(spark, sf)
        .select(col("wstart"), col("event_type"), col("n"))
        .collect()
      assert(streamed.length == batch.length)
      assert(streamed.map(_.toString).sameElements(batch.map(_.toString)))
    } finally q.stop()
  }

  test("streaming aggregation state equals the batch incremental fold (q174 twin)") {
    // q174 proves state+delta partial merge == full recompute in batch;
    // the streaming twin: a complete-mode grouped aggregation over the
    // orders parquet drained as a stream IS that same monoid fold, one
    // micro-batch at a time. Final state must equal the batch answer.
    val dir = java.nio.file.Files.createTempDirectory("orders_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/orders.parquet"), dir.resolve("part-0.parquet"))
    val schema = Tables.orders(spark, sf).schema
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(operators.Det.fixed6(col("o_totalprice")).cast(operators.Det.Acc)).as("spend6"),
        max(col("o_orderdate")).as("last_order"))
    val q = EventStream.runToMemory(stream, "inc_agg", OutputMode.Complete())
    try {
      val streamed = spark.table("inc_agg")
        .select(col("o_custkey"), col("n_orders"),
          (col("spend6").cast("double") / lit(1000000.0)).as("spend"), col("last_order"))
        .orderBy(col("o_custkey")).collect()
      val batch = operators.HistoryOps.q174IncrementalAgg(spark, sf).collect()
      assert(streamed.length == batch.length)
      assert(streamed.map(_.toString).sameElements(batch.map(_.toString)))
    } finally q.stop()
  }

  test("streaming sessionization flushes an IDLE session once the watermark passes") {
    import spark.implicits._
    def write(dir: java.nio.file.Path, name: String, events: Seq[EventStream.Event]): Unit =
      events.toDS().coalesce(1).write.mode("append")
        .parquet(dir.resolve(name).toString)
    val dir = java.nio.file.Files.createTempDirectory("events_sessions")
    // batch 1: one open session for user 1 (never superseded by later data)
    write(dir, "f0", Seq(
      EventStream.Event(1, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1, "click", 1.0),
      EventStream.Event(2, java.sql.Timestamp.valueOf("2024-01-01 10:10:00"), 1, "view", 2.0)))
    // batch 2: a far-future event from another user drives the watermark
    // past user 1's idle deadline (10:40 + 10 min delay)
    write(dir, "f1", Seq(
      EventStream.Event(3, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 99, "click", 9.0)))
    val stream = spark.readStream
      .schema(Seq(EventStream.Event(0, new java.sql.Timestamp(0), 0, "", 0.0)).toDS().schema)
      .option("maxFilesPerTrigger", "1") // one file per micro-batch, in order
      .parquet(dir.resolve("*").toString)
      .as[EventStream.Event]
    val q = EventStream.runToMemory(EventStream.sessionize(stream).toDF(), "sessions")
    try {
      val out = spark.table("sessions").as[EventStream.SessionOut].collect()
      // user 1's session was never superseded — only the event-time
      // timeout can have emitted it; user 99's stays open (wm < deadline)
      assert(out.length == 1)
      val s = out.head
      assert(s.user_id == 1 && s.n_events == 2 && s.sum_value == 3.0)
      assert(s.sess_end.toString.startsWith("2024-01-01 10:10:00"))
    } finally q.stop()
  }

  test("streaming funnel: conversions emit per micro-batch, strictly ordered, once per user") {
    import spark.implicits._
    def write(dir: java.nio.file.Path, name: String, events: Seq[EventStream.Event]): Unit =
      events.toDS().coalesce(1).write.mode("append")
        .parquet(dir.resolve(name).toString)
    val dir = java.nio.file.Files.createTempDirectory("events_funnel")
    // batch 1: user 1 advances two steps; user 2's click precedes any view
    write(dir, "f0", Seq(
      EventStream.Event(1, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1, "view", 1.0),
      EventStream.Event(2, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 1, "click", 1.0),
      EventStream.Event(3, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 2, "click", 1.0)))
    // batch 2: user 1 completes; user 2 gets its first view; user 2's
    // purchase can't fire (no click after the view yet)
    write(dir, "f1", Seq(
      EventStream.Event(4, java.sql.Timestamp.valueOf("2024-01-01 10:30:00"), 1, "purchase", 1.0),
      EventStream.Event(5, java.sql.Timestamp.valueOf("2024-01-01 10:20:00"), 2, "view", 1.0),
      EventStream.Event(6, java.sql.Timestamp.valueOf("2024-01-01 10:25:00"), 2, "purchase", 1.0)))
    val stream = spark.readStream
      .schema(Seq(EventStream.Event(0, new java.sql.Timestamp(0), 0, "", 0.0)).toDS().schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.resolve("*").toString)
      .as[EventStream.Event]
    val q = EventStream.runToMemory(EventStream.funnel(stream).toDF(), "funnel")
    try {
      val out = spark.table("funnel").as[EventStream.FunnelOut].collect()
      val u1 = out.filter(_.user_id == 1).map(_.step).sorted
      val u2 = out.filter(_.user_id == 2).map(_.step).sorted
      assert(u1.toSeq == Seq("click", "purchase", "view"))
      assert(u2.toSeq == Seq("view")) // pre-view click and pre-click purchase never count
      assert(out.length == 4)
    } finally q.stop()
  }

  test("streaming spike detection survives kill-and-restart between batches") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("events_spike_src")
    val out = java.nio.file.Files.createTempDirectory("events_spike_out")
    val chk = java.nio.file.Files.createTempDirectory("events_spike_chk")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def write(name: String, events: Seq[EventStream.Event]): Unit =
      events.toDS().coalesce(1).write.mode("append").parquet(src.resolve(name).toString)
    // hour 10: 4 clicks; hour 11: 6 clicks (a 1.5× spike once both close)
    write("f0", Seq(
      EventStream.Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      EventStream.Event(2, ts("2024-01-01 10:10:00"), 1, "click", 1.0),
      EventStream.Event(3, ts("2024-01-01 10:20:00"), 1, "click", 1.0),
      EventStream.Event(4, ts("2024-01-01 10:30:00"), 1, "click", 1.0),
      EventStream.Event(5, ts("2024-01-01 11:00:00"), 1, "click", 1.0),
      EventStream.Event(6, ts("2024-01-01 11:05:00"), 1, "click", 1.0),
      EventStream.Event(7, ts("2024-01-01 11:10:00"), 1, "click", 1.0),
      EventStream.Event(8, ts("2024-01-01 11:15:00"), 1, "click", 1.0),
      EventStream.Event(9, ts("2024-01-01 11:20:00"), 1, "click", 1.0),
      EventStream.Event(10, ts("2024-01-01 11:30:00"), 1, "click", 1.0)))
    // watermark after f1 = 11:55 < 12:00, so hour 11 CANNOT close before
    // the kill — its count and hour 10's lastN must survive the restart
    write("f1", Seq(EventStream.Event(11, ts("2024-01-01 12:05:00"), 1, "click", 1.0)))
    def startQuery() = {
      val stream = spark.readStream
        .schema(Seq(EventStream.Event(0, new java.sql.Timestamp(0), 0, "", 0.0)).toDS().schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src.resolve("*").toString)
        .as[EventStream.Event]
      EventStream.spikeDetect(stream).toDF().writeStream
        .outputMode(OutputMode.Append)
        .format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", chk.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop() // kill between batches
    assert(spark.read.parquet(out.toString).isEmpty) // nothing closed with a prev yet
    // data lands while the query is down; restart recovers state + watermark
    write("f2", Seq(EventStream.Event(12, ts("2024-01-01 14:00:00"), 1, "click", 1.0)))
    // final watermark 14:55 < 15:00 keeps hour 14 open — output stays exact
    write("f3", Seq(EventStream.Event(13, ts("2024-01-01 15:05:00"), 1, "click", 1.0)))
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()
    val rows = spark.read.parquet(out.toString).as[EventStream.SpikeOut]
      .collect().sortBy(_.h.getTime)
    assert(rows.length == 2)
    assert(rows(0).h == ts("2024-01-01 11:00:00") && rows(0).n == 6 &&
      rows(0).prev == 4 && rows(0).spike == 1) // 6/4 = 1.5× → spike
    assert(rows(1).h == ts("2024-01-01 12:00:00") && rows(1).n == 1 &&
      rows(1).prev == 6 && rows(1).spike == 0)
  }

  test("stream-static enrichment join matches the batch join and keeps unmatched rows") {
    val dir = java.nio.file.Files.createTempDirectory("events_enrich")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), dir.resolve("part-0.parquet"))
    val batchEvents = spark.read.parquet(dir.toString)
    // static dimension: a tier per user, deliberately missing some users
    // so the left join's null path is exercised
    val dim = batchEvents.select(col("user_id")).distinct()
      .filter(col("user_id") % 3 =!= 0)
      .withColumn("tier", (col("user_id") % 5).cast("long"))
    val stream = EventStream.readEvents(spark, dir.toString)
    val q = EventStream.runToMemory(
      EventStream.staticEnrich(stream, dim), "enriched", OutputMode.Append())
    try {
      val streamed = spark.table("enriched")
        .groupBy(col("tier")).agg(count(lit(1)).as("n"))
        .orderBy(col("tier")).collect()
      val batch = EventStream.staticEnrich(batchEvents, dim)
        .groupBy(col("tier")).agg(count(lit(1)).as("n"))
        .orderBy(col("tier")).collect()
      assert(streamed.map(_.toString).sameElements(batch.map(_.toString)))
      // unmatched users survive with a null tier
      assert(streamed.exists(_.isNullAt(0)))
    } finally q.stop()
  }

  test("stream-static PIT enrichment (q132 twin) matches the batch as-of semantics") {
    val dir = java.nio.file.Files.createTempDirectory("events_pit")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), dir.resolve("part-0.parquet"))
    val batchEvents = Tables.events(spark, sf)
    // SCD2 dim with validity intervals, built batch-side as on refresh:
    // version change points (q132's dim) closed into [t_start, t_end)
    val wSeq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val dim = batchEvents.filter(col("event_type") =!= "error")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(wSeq))
      .withColumn("chg",
        (col("prev_type").isNull || col("prev_type") =!= col("event_type")).cast("long"))
      .withColumn("version", sum(col("chg")).over(wSeq))
      .groupBy(col("user_id"), col("version"), col("event_type"))
      .agg(unix_micros(min(col("ts"))).as("t_start"))
      .withColumn("t_end", coalesce(
        lead(col("t_start"), 1).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("t_start"))),
        lit(Long.MaxValue)))
      .select(col("user_id").as("d_user_id"), col("t_start"), col("t_end"),
        col("version"), col("event_type").as("state"))
    def facts(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t_us"))
    val stream = EventStream.readEvents(spark, dir.toString)
    val q = EventStream.runToMemory(
      EventStream.pitEnrich(facts(stream), dim), "pit_enriched", OutputMode.Append())
    try {
      val streamed = spark.table("pit_enriched")
        .select(col("event_id"), col("version"), col("state"))
        .orderBy(col("event_id")).collect()
      val batch = EventStream.pitEnrich(facts(batchEvents), dim)
        .select(col("event_id"), col("version"), col("state"))
        .orderBy(col("event_id")).collect()
      assert(streamed.nonEmpty)
      assert(streamed.map(_.toString).sameElements(batch.map(_.toString)))
      // row-preserving: every error fact appears exactly once
      assert(streamed.length == facts(batchEvents).count())
    } finally q.stop()
  }

  test("stream-stream click↔view join matches the batch join") {
    // streaming sources read directories; stage the fixture file into one
    val dir = java.nio.file.Files.createTempDirectory("events_ssjoin")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), dir.resolve("part-0.parquet"))
    def stream() = EventStream.readEvents(spark, dir.toString)
    val q = EventStream.runToMemory(
      EventStream.clickViewJoin(stream(), stream()), "ssjoin")
    try {
      val streamed = spark.table("ssjoin").count()
      val batchEvents = Tables.events(spark, sf)
      val batch = EventStream.clickViewJoin(batchEvents, batchEvents).count()
      assert(streamed > 0 && streamed == batch)
    } finally q.stop()
  }

  test("streaming dedup keeps one row per event_id across micro-batches") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("events_dedup")
    def write(name: String, events: Seq[EventStream.Event]): Unit =
      events.toDS().coalesce(1).write.mode("append").parquet(dir.resolve(name).toString)
    write("f0", Seq(
      EventStream.Event(1, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1, "click", 1.0),
      EventStream.Event(1, java.sql.Timestamp.valueOf("2024-01-01 10:00:01"), 1, "click", 1.0), // in-batch dup
      EventStream.Event(2, java.sql.Timestamp.valueOf("2024-01-01 10:01:00"), 2, "view", 2.0)))
    write("f1", Seq(
      EventStream.Event(1, java.sql.Timestamp.valueOf("2024-01-01 10:02:00"), 1, "click", 1.0), // cross-batch dup
      EventStream.Event(3, java.sql.Timestamp.valueOf("2024-01-01 10:03:00"), 3, "click", 3.0)))
    val stream = spark.readStream
      .schema(Seq(EventStream.Event(0, new java.sql.Timestamp(0), 0, "", 0.0)).toDS().schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.resolve("*").toString)
    val q = EventStream.runToMemory(EventStream.dedupEvents(stream), "deduped")
    try {
      val ids = spark.table("deduped").select(col("event_id"))
        .as[Long].collect().sorted
      assert(ids.sameElements(Array(1L, 2L, 3L)))
    } finally q.stop()
  }

  test("streaming delta-dedup probe matches the batch q183 pairs") {
    import graft.operators.TextOps
    // static standing index, built by the batch code q183 itself uses
    val (hotDf, docs) = TextOps.deltaLshRelations(spark, sf)
    val standing = docs.filter(!TextOps.DeltaPred)
    val standingBands = TextOps.bandsOf(standing)
      .select(col("doc_id").as("db"), col("bk.band").as("band"),
        col("bk.v0").as("v0"), col("bk.v1").as("v1"))
    val standingSets = standing.select(col("doc_id").as("db"), col("sh_set").as("sb"))
    val hot = hotDf.select(col("sh")).collect().map(_.getLong(0)).toSeq
    // the delta batch arrives as a file stream
    val dir = java.nio.file.Files.createTempDirectory("delta_docs")
    val delta = Tables.documents(spark, sf).filter(TextOps.DeltaPred)
      .select(col("doc_id"), col("text"))
    delta.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream.schema(delta.schema)
      .parquet(dir.toString)
    val q = EventStream.runToMemory(
      CorpusStream.deltaDedupStream(stream, hot, standingBands, standingSets),
      "delta_dedup")
    try {
      val streamed = spark.table("delta_dedup").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
      val batch = TextOps.q183DeltaDedup(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
      assert(batch.nonEmpty && streamed.sameElements(batch))
    } finally q.stop()
  }

  private def runHeavyHitters(k: Int): (Map[(Long, String), (Long, Long)], Map[String, Long]) = {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory(s"mg_$k")
    docs.filter(pmod(col("doc_id"), lit(2)) === 0).coalesce(1)
      .write.parquet(dir.resolve("f0").toString)
    docs.filter(pmod(col("doc_id"), lit(2)) =!= 0).coalesce(1)
      .write.parquet(dir.resolve("f1").toString)
    // the MG summary is a transformWithState processor → RocksDB provider
    val pkey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(pkey)
    spark.conf.set(pkey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.resolve("*").toString)
    val q = EventStream.runToMemory(
      CorpusStream.heavyHitterStream(stream, k), s"mg_out_$k", OutputMode.Update())
    val fin =
      try {
        // freshest summary per shard = rows carrying the shard's max n_shard
        val t = spark.table(s"mg_out_$k")
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("shard"))
        t.withColumn("mx", max(col("n_shard")).over(w))
          .filter(col("n_shard") === col("mx"))
          // a token can be emitted twice with the same terminal n_shard if
          // the final micro-batch routed no tokens to its shard; last wins
          .groupBy(col("shard"), col("tok"))
          .agg(max(col("est")).as("est"), max(col("n_shard")).as("n_shard"))
          .collect()
          .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
          .toMap
      } finally {
        q.stop()
        prev match {
          case Some(v) => spark.conf.set(pkey, v)
          case None => spark.conf.unset(pkey)
        }
      }
    val truth = docs
      .select(explode(graft.functions.Portable.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (fin, truth)
  }

  private def shardOf(tok: String): Long = {
    val P = graft.functions.Portable.P
    val h = tok.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % P)
    ((h % CorpusStream.MgShards) + CorpusStream.MgShards) % CorpusStream.MgShards
  }

  test("heavyHitterStream: tight k exercises decrements, MG bounds hold") {
    val k = 2
    val (fin, truth) = runHeavyHitters(k)
    val byShard = fin.groupBy(_._1._1)
    byShard.foreach { case (_, m) => assert(m.size <= k, s"> $k survivors: $m") }
    fin.foreach { case ((_, tok), (est, nShard)) =>
      val tr = truth(tok)
      assert(est <= tr, s"$tok overcounted: $est > $tr")
      assert(tr - est <= nShard / k, s"$tok undercount beyond MG bound")
    }
    // completeness: every token with count > n_shard/k survives in its shard
    val nShardOf = fin.map { case ((s2, _), (_, n)) => s2 -> n }
    truth.foreach { case (tok, c) =>
      val s2 = shardOf(tok)
      nShardOf.get(s2).foreach { n =>
        if (c > n / k)
          assert(fin.contains((s2, tok)), s"heavy $tok (count $c > ${n / k}) evicted")
      }
    }
  }

  test("heavyHitterStream: ample k yields exact counts and covers batch q179") {
    val k = 50
    val (fin, truth) = runHeavyHitters(k)
    // the fixture vocabulary per shard is far below k, so no decrement
    // ever fires and the streamed estimates ARE the exact counts
    val vocabPerShard = truth.keys.groupBy(shardOf).map(_._2.size).max
    assert(vocabPerShard < k, "fixture drifted: exactness premise broken")
    fin.foreach { case ((_, tok), (est, _)) =>
      assert(est == truth(tok), s"$tok: streamed $est != exact ${truth(tok)}")
    }
    // every batch-q179 heavy hitter is among the streamed candidates
    val heavies = graft.operators.ScaleOps2.q179HeavyHitters(spark, sf)
      .collect().map(_.getString(0))
    heavies.foreach { tok =>
      assert(fin.contains((shardOf(tok), tok)), s"q179 heavy $tok missing")
    }
  }

  test("heavyHitterStream: MG state survives kill-and-restart between batches") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val src = java.nio.file.Files.createTempDirectory("mg_restart_src")
    val out = java.nio.file.Files.createTempDirectory("mg_restart_out")
    val chk = java.nio.file.Files.createTempDirectory("mg_restart_chk")
    val k = 50 // ample: per-shard vocabulary < k, so recovered counts are exact
    docs.filter(pmod(col("doc_id"), lit(2)) === 0).coalesce(1)
      .write.parquet(src.resolve("f0").toString)
    val pkey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(pkey)
    spark.conf.set(pkey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def startQuery() = {
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src.resolve("*").toString)
      CorpusStream.heavyHitterStream(stream, k).writeStream
        .outputMode(OutputMode.Update())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(out.toString)
        }
        .option("checkpointLocation", chk.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    try {
      val q1 = startQuery()
      q1.processAllAvailable(); q1.stop() // kill between batches
      // the rest of the corpus lands while the query is down
      docs.filter(pmod(col("doc_id"), lit(2)) =!= 0).coalesce(1)
        .write.parquet(src.resolve("f1").toString)
      val q2 = startQuery()
      q2.processAllAvailable(); q2.stop()
      // freshest summary per shard (max n_shard) must carry counts over
      // the WHOLE corpus — only possible if run 1's state was recovered
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("shard"))
      val fin = spark.read.parquet(out.toString)
        .withColumn("mx", max(col("n_shard")).over(w))
        .filter(col("n_shard") === col("mx"))
        .collect().map(r => (r.getAs[Long]("shard"), r.getAs[String]("tok")) ->
          (r.getAs[Long]("est"), r.getAs[Long]("n_shard"))).toMap
      val truth = docs
        .select(explode(graft.functions.Portable.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(fin.nonEmpty)
      // every shard that emitted after the restart carries FULL counts
      fin.foreach { case ((_, tok), (est, _)) =>
        assert(est == truth(tok),
          s"$tok: post-restart $est != full-corpus ${truth(tok)} — state lost")
      }
      // and each such shard's n equals its full token mass
      val nByShard = fin.groupBy(_._1._1).view.mapValues(_.head._2._2)
      val wantShardN = truth.toSeq.groupBy { case (t, _) => shardOf(t) }
        .view.mapValues(_.map(_._2).sum)
      nByShard.foreach { case (s2, n) =>
        assert(n == wantShardN(s2), s"shard $s2: n $n != ${wantShardN(s2)}")
      }
    } finally prev match {
      case Some(v) => spark.conf.set(pkey, v)
      case None => spark.conf.unset(pkey)
    }
  }

  test("attritionStream: per-source counters converge to batch q292 stages 1-3") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
    // two micro-batches: counters must accumulate across the boundary
    val dir = java.nio.file.Files.createTempDirectory("attrition")
    docs.filter(pmod(col("doc_id"), lit(2)) === 0).coalesce(1)
      .write.parquet(dir.resolve("f0").toString)
    docs.filter(pmod(col("doc_id"), lit(2)) =!= 0).coalesce(1)
      .write.parquet(dir.resolve("f1").toString)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.resolve("*").toString)
    val q = EventStream.runToMemory(
      CorpusStream.attritionStream(stream), "attrition", OutputMode.Update())
    try {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("upd").desc)
      val got = spark.table("attrition")
        .withColumn("upd", monotonically_increasing_id())
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("source"), col("n0"), col("n_s1"), col("n_s2"), col("n_s3"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sorted
      val want = graft.operators.Round9Ops.q292FilterAttrition(spark, sf)
        .select(col("source"), col("n0"), col("n_s1"), col("n_s2"), col("n_s3"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sorted
      assert(want.nonEmpty && got.sameElements(want),
        s"stream ${got.toSeq} != batch ${want.toSeq}")
    } finally q.stop()
  }

  test("ivfMaintainStream: streamed delta occupancy converges to batch q276 n_delta") {
    import graft.operators.Round8Ops
    // the REAL q276 split: state trains the model, delta streams in
    val e = Tables.embeddings(spark, sf)
    val state = e.filter(pmod(col("vec_id"), lit(Round8Ops.IvfDeltaMod)) =!= 0)
    val delta = e.filter(pmod(col("vec_id"), lit(Round8Ops.IvfDeltaMod)) === 0)
      .select(col("vec_id"), col("embedding"))
    val centsDf = graft.ml.KMeansIvf.fit(state, "vec_id", "embedding", k = 8, iters = 3)
    val model: Seq[Seq[Double]] = centsDf.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).sortBy(_._1).map(_._2).toIndexedSeq
    // two micro-batches: counts must accumulate across the boundary
    val dir = java.nio.file.Files.createTempDirectory("ivf_delta")
    delta.filter(pmod(col("vec_id"), lit(2)) === 0).coalesce(1)
      .write.parquet(dir.resolve("f0").toString)
    delta.filter(pmod(col("vec_id"), lit(2)) =!= 0).coalesce(1)
      .write.parquet(dir.resolve("f1").toString)
    val stream = spark.readStream.schema(delta.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.resolve("*").toString)
    val q = EventStream.runToMemory(
      CorpusStream.ivfMaintainStream(stream, model), "ivf_maintain",
      OutputMode.Update())
    try {
      // last update per cluster is the converged occupancy
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster")).orderBy(col("upd").desc)
      val got = spark.table("ivf_maintain")
        .withColumn("upd", monotonically_increasing_id())
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      // batch truth: q276's n_delta column (cells the delta touched)
      val want = Round8Ops.q276IvfMaintain(spark, sf)
        .filter(col("n_delta") > 0)
        .select(col("cluster"), col("n_delta"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(want.nonEmpty && got.sameElements(want),
        s"stream ${got.toSeq} != batch ${want.toSeq}")
    } finally q.stop()
  }

  test("histQuantileStream: streamed (flag, bin) counters reproduce batch q302 estimates") {
    import graft.operators.BudgetOps
    val liK = Tables.lineitem(spark, sf).select(col("l_orderkey"),
      col("l_returnflag").as("flag"), col("l_extendedprice").as("v"))
    val spec = BudgetOps.flagBinSpec(liK.select(col("flag"), col("v")))
    // two micro-batches: the (flag, bin) counters must merge by vector
    // addition across the boundary — q302's whole design claim
    val dir = java.nio.file.Files.createTempDirectory("hist_vals")
    liK.filter(pmod(col("l_orderkey"), lit(2)) === 0).select(col("flag"), col("v"))
      .coalesce(1).write.parquet(dir.resolve("f0").toString)
    liK.filter(pmod(col("l_orderkey"), lit(2)) =!= 0).select(col("flag"), col("v"))
      .coalesce(1).write.parquet(dir.resolve("f1").toString)
    val stream = spark.readStream
      .schema(liK.select(col("flag"), col("v")).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.resolve("*").toString)
    val q = EventStream.runToMemory(
      CorpusStream.histQuantileStream(stream, spec), "hist_q", OutputMode.Update())
    try {
      // last update per (flag, bin) is the converged counter
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("flag"), col("bin")).orderBy(col("upd").desc)
      val hist = spark.table("hist_q")
        .withColumn("upd", monotonically_increasing_id())
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("flag"), col("bin"), col("cnt"))
      // read-time projection over the counters = the shared estimate core
      val got = BudgetOps.quantileEstimates(spec, hist)
        .select(col("flag"), col("p_micro"), col("bin"),
          floor(col("w") * lit(1000000.0) + lit(0.5)).cast("long").as("width_micro"),
          floor(col("est") * lit(1000000.0) + lit(0.5)).cast("long").as("est_micro"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sorted
      val want = BudgetOps.q302HistQuantiles(spark, sf)
        .select(col("flag"), col("p_micro"), col("hit_bin"),
          col("width_micro"), col("est_micro"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sorted
      assert(want.nonEmpty && got.sameElements(want),
        s"stream ${got.toSeq} != batch ${want.toSeq}")
    } finally q.stop()
  }

  test("amsSketchStream: streamed ±1 counters reproduce batch q311 sums and estimate") {
    import graft.operators.Round11Ops
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"), col("l_returnflag"))
    // two micro-batches: the per-sketch (x, y) counters must merge by
    // plain addition across the boundary — AMS's mergeability claim
    val dir = java.nio.file.Files.createTempDirectory("ams_vals")
    li.filter(pmod(col("l_orderkey"), lit(2)) === 0)
      .select(col("l_partkey"), col("l_returnflag"))
      .coalesce(1).write.parquet(dir.resolve("f0").toString)
    li.filter(pmod(col("l_orderkey"), lit(2)) =!= 0)
      .select(col("l_partkey"), col("l_returnflag"))
      .coalesce(1).write.parquet(dir.resolve("f1").toString)
    val stream = spark.readStream
      .schema(li.select(col("l_partkey"), col("l_returnflag")).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.resolve("*").toString)
    val q = EventStream.runToMemory(
      CorpusStream.amsSketchStream(stream), "ams_q", OutputMode.Update())
    try {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("sketch_id")).orderBy(col("upd").desc)
      val conv = spark.table("ams_q")
        .withColumn("upd", monotonically_increasing_id())
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("sketch_id"), col("x"), col("y")).collect()
        .map(r => r.getLong(0).toInt -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(conv.size == Round11Ops.AmsGroups * Round11Ops.AmsPerGroup)
      // read-time projection over the counters = the batch estimate core
      val gSums = (0 until Round11Ops.AmsGroups).map { g =>
        (0 until Round11Ops.AmsPerGroup).map { j =>
          val (x, y) = conv(g * Round11Ops.AmsPerGroup + j); x * y
        }.sum
      }
      val batch = Round11Ops.q311AmsJoinSize(spark, sf).collect()
      batch.foreach { r =>
        assert(r.getAs[Long]("sum_xy") == gSums(r.getAs[Long]("group_id").toInt),
          s"stream group sums $gSums != batch row $r")
      }
      assert(batch.head.getAs[Long]("median_est") ==
        gSums.sorted.apply(1) / Round11Ops.AmsPerGroup)
    } finally q.stop()
  }

  test("kmvSketchStream: streamed k-minimum sketches reproduce batch q181 estimates") {
    import graft.operators.ScaleOps2
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("source"), col("text"))
    // two micro-batches: the ≤k min-sets must merge across the boundary
    // exactly as they merge across partitions — KMV's mergeability claim
    val dir = java.nio.file.Files.createTempDirectory("kmv_docs")
    docs.filter(pmod(col("doc_id"), lit(2)) === 0).select(col("source"), col("text"))
      .coalesce(1).write.parquet(dir.resolve("f0").toString)
    docs.filter(pmod(col("doc_id"), lit(2)) =!= 0).select(col("source"), col("text"))
      .coalesce(1).write.parquet(dir.resolve("f1").toString)
    val stream = spark.readStream
      .schema(docs.select(col("source"), col("text")).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.resolve("*").toString)
    val q = EventStream.runToMemory(
      CorpusStream.kmvSketchStream(stream), "kmv_q", OutputMode.Update())
    try {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("upd").desc)
      // read-time projection over the converged sketches = the shared
      // estimate core (ScaleOps2.kmvEstimate)
      val got = spark.table("kmv_q")
        .withColumn("upd", monotonically_increasing_id())
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("source"), col("kmin"), ScaleOps2.kmvEstimate.as("est"))
        .collect()
        .map(r => (r.getString(0), r.getSeq[Long](1).toSeq, r.getLong(2))).sortBy(_._1)
      val want = ScaleOps2.q181KmvDistinct(spark, sf)
        .select(col("source"), col("est")).collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      assert(got.length == want.length)
      got.zip(want).foreach { case ((gs, kmin, ge), (ws, we)) =>
        assert(gs == ws && ge == we, s"stream ($gs, $ge) != batch ($ws, $we)")
        assert(kmin.length <= ScaleOps2.KmvK && kmin == kmin.sorted)
      }
    } finally q.stop()
  }

  test("cmsSketchStream: streamed counter grid equals batch q207 counters cell-for-cell") {
    import graft.operators.ScaleOps2
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("cms_docs")
    docs.filter(pmod(col("doc_id"), lit(2)) === 0).select(col("text"))
      .coalesce(1).write.parquet(dir.resolve("f0").toString)
    docs.filter(pmod(col("doc_id"), lit(2)) =!= 0).select(col("text"))
      .coalesce(1).write.parquet(dir.resolve("f1").toString)
    val stream = spark.readStream
      .schema(docs.select(col("text")).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.resolve("*").toString)
    val q = EventStream.runToMemory(
      CorpusStream.cmsSketchStream(stream), "cms_q", OutputMode.Update())
    try {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("r"), col("bucket")).orderBy(col("upd").desc)
      val got = spark.table("cms_q")
        .withColumn("upd", monotonically_increasing_id())
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("r"), col("bucket"), col("csum")).collect()
        .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
      // batch counters via the vocabulary trick (hash once per DISTINCT
      // token, add its exact count) — arithmetically identical to the
      // stream's per-occurrence adds
      val want = Tables.documents(spark, sf)
        .select(explode(graft.functions.Portable.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .withColumn("h", graft.functions.Portable.polyHash(col("tok")))
        .select((0 until ScaleOps2.CmsDepth).map(i =>
          struct(lit(i).as("r"), ScaleOps2.cmsBucket(i, col("h")).as("bucket"),
            col("cnt").as("cnt")).as(s"c$i")): _*)
        .collect()
        .flatMap(row => (0 until ScaleOps2.CmsDepth).map { i =>
          val st = row.getStruct(i)
          ((st.getInt(0), st.getLong(1)), st.getLong(2))
        })
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      assert(got.nonEmpty && got == want,
        s"stream grid (${got.size} cells) != batch grid (${want.size} cells)")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join emits unmatched clicks on watermark eviction") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("events_outer")
    def write(name: String, events: Seq[EventStream.Event]): Unit =
      events.toDS().coalesce(1).write.mode("append").parquet(dir.resolve(name).toString)
    // batch 1: click 10 has a view 1 min earlier; click 20 has none
    write("f0", Seq(
      EventStream.Event(1, java.sql.Timestamp.valueOf("2024-01-01 09:59:00"), 1, "view", 0.0),
      EventStream.Event(10, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1, "click", 1.0),
      EventStream.Event(20, java.sql.Timestamp.valueOf("2024-01-01 10:01:00"), 2, "click", 2.0)))
    // the join's eviction watermark is the MIN across both sides, so a
    // sentinel must advance each side (disjoint users so the sentinels
    // can't join each other); the outer emission then happens in the
    // automatic no-data batch after the last file commits the watermark
    write("f1", Seq(
      EventStream.Event(99, java.sql.Timestamp.valueOf("2024-01-02 12:00:00"), 9, "view", 0.0)))
    write("f2", Seq(
      EventStream.Event(100, java.sql.Timestamp.valueOf("2024-01-02 12:30:00"), 8, "click", 0.0)))
    def stream() = spark.readStream
      .schema(Seq(EventStream.Event(0, new java.sql.Timestamp(0), 0, "", 0.0)).toDS().schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.resolve("*").toString)
    val q = EventStream.runToMemory(
      EventStream.clickViewJoinOuter(stream(), stream()), "ssouter")
    try {
      val rows = spark.table("ssouter")
        .select(col("click_id"), col("view_id")).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .sorted
      assert(rows.toSeq == Seq((10L, 1L), (20L, -1L)),
        s"expected matched click 10 and null-matched click 20, got ${rows.toSeq}")
    } finally q.stop()
  }

  test("stateful dedup runs identically on the RocksDB state store provider") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("events_rocksdb")
    def write(name: String, events: Seq[EventStream.Event]): Unit =
      events.toDS().coalesce(1).write.mode("append").parquet(dir.resolve(name).toString)
    write("f0", Seq(
      EventStream.Event(1, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1, "click", 1.0),
      EventStream.Event(2, java.sql.Timestamp.valueOf("2024-01-01 10:01:00"), 2, "view", 2.0)))
    write("f1", Seq(
      EventStream.Event(1, java.sql.Timestamp.valueOf("2024-01-01 10:02:00"), 1, "click", 1.0),
      EventStream.Event(3, java.sql.Timestamp.valueOf("2024-01-01 10:03:00"), 3, "click", 3.0)))
    // RocksDB bounds executor memory for state (spill to local disk) —
    // the provider a 100 TB streaming job runs; results must not differ
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream
        .schema(Seq(EventStream.Event(0, new java.sql.Timestamp(0), 0, "", 0.0)).toDS().schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir.resolve("*").toString)
      val q = EventStream.runToMemory(EventStream.dedupEvents(stream), "rocks_dedup")
      try {
        val ids = spark.table("rocks_dedup").select(col("event_id"))
          .as[Long].collect().sorted
        assert(ids.sameElements(Array(1L, 2L, 3L)))
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("stateful sessionization emits closed sessions with correct stats") {
    import spark.implicits._
    val events = Seq(
      EventStream.Event(1, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1, "click", 1.0),
      EventStream.Event(2, java.sql.Timestamp.valueOf("2024-01-01 10:10:00"), 1, "view", 2.0),
      // > 30 min gap closes the first session
      EventStream.Event(3, java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), 1, "click", 3.0),
      EventStream.Event(4, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 2, "view", 5.0)).toDS()
    val sessions = EventStream.sessionize(events).collect()
    // only CLOSED sessions are emitted (open state stays in the store)
    assert(sessions.length == 1)
    val s = sessions.head
    assert(s.user_id == 1 && s.n_events == 2 && s.sum_value == 3.0)
    assert(s.sess_start.toString.startsWith("2024-01-01 10:00:00"))
    assert(s.sess_end.toString.startsWith("2024-01-01 10:10:00"))
  }

  test("trailingDistinctStream: update-mode counts converge to batch q193") {
    import org.apache.spark.sql.functions._
    // two time-ordered micro-batches of the REAL fixture: presence and
    // (user, window) dedup state must carry across the batch boundary
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val cut = ev.agg(expr("timestampadd(SECOND, 1, min(ts) + (max(ts) - min(ts)) / 2)"))
      .head().getTimestamp(0)
    val dir = java.nio.file.Files.createTempDirectory("events_trailing")
    ev.filter(col("ts") <= lit(cut)).coalesce(1)
      .write.parquet(dir.resolve("f0").toString)
    ev.filter(col("ts") > lit(cut)).coalesce(1)
      .write.parquet(dir.resolve("f1").toString)
    // the count leg is a transformWithState processor → RocksDB provider
    val pkey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(pkey)
    spark.conf.set(pkey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stream = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.resolve("*").toString)
    val q = EventStream.runToMemory(
      EventStream.trailingDistinctStream(stream), "trailing_distinct",
      OutputMode.Update())
    try {
      // last update per window-end is the converged count
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("wday")).orderBy(col("upd").desc)
      val got = spark.table("trailing_distinct")
        .withColumn("upd", monotonically_increasing_id())
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("wday"), col("n_users"))
      val want = graft.operators.MaintOps.q193SlidingDistinct(spark, sf)
      // streaming emits every window-end; the batch report keeps observed
      // days only — compare on the batch's day list
      val joined = want.join(got, Seq("wday"), "left")
        .select(col("wday"), want("n_users").as("b"), got("n_users").as("s"))
        .collect()
      assert(joined.nonEmpty)
      joined.foreach { r =>
        assert(!r.isNullAt(2) && r.getLong(1) == r.getLong(2),
          s"window ${r.getDate(0)}: batch ${r.getLong(1)} != stream ${r.get(2)}")
      }
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(pkey, v)
        case None => spark.conf.unset(pkey)
      }
    }
  }

  test("preferencePairStream: last updates converge to the batch q288 pairs") {
    // two time-ordered micro-batches: a user-day whose chosen/rejected
    // events straddle the cut exercises cross-batch state refinement
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val cut = ev.agg(expr("timestampadd(SECOND, 1, min(ts) + (max(ts) - min(ts)) / 2)"))
      .head().getTimestamp(0)
    val dir = java.nio.file.Files.createTempDirectory("events_pref")
    ev.filter(col("ts") <= lit(cut)).coalesce(1)
      .write.parquet(dir.resolve("f0").toString)
    ev.filter(col("ts") > lit(cut)).coalesce(1)
      .write.parquet(dir.resolve("f1").toString)
    val stream = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.resolve("*").toString)
    val q = EventStream.runToMemory(
      EventStream.preferencePairStream(stream), "pref_pairs", OutputMode.Update())
    try {
      // last update per (user, day), then the batch presentation filters
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("day")).orderBy(col("upd").desc)
      val got = spark.table("pref_pairs")
        .withColumn("upd", monotonically_increasing_id())
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .filter(col("n_events") >= 2 &&
          col("chosen_micro") - col("rejected_micro") > 0)
        .select(col("user_id"), col("day"), col("n_events"),
          col("chosen_id"), col("rejected_id"),
          (col("chosen_micro") - col("rejected_micro")).as("margin_micro"))
        .orderBy(col("user_id"), col("day")).collect()
      val want = operators.Round9Ops.prefPairsCore(Tables.events(spark, sf))
        .select(col("user_id"), col("day"), col("n_events"),
          col("chosen_id"), col("rejected_id"), col("margin_micro"))
        .orderBy(col("user_id"), col("day")).collect()
      assert(want.nonEmpty && got.length == want.length,
        s"stream pairs ${got.length} != batch pairs ${want.length}")
      assert(got.map(_.toString).sameElements(want.map(_.toString)))
    } finally q.stop()
  }

  test("tombstoneCellStream: a -1 deletion stream converges to q330's maintained cells") {
    import graft.operators.Round14Ops
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    // micro-batch 1: the whole corpus as +1 inserts; micro-batch 2: the
    // q330 deletion list replayed as -1 tombstones — the counters must
    // RETRACT across the batch boundary
    val dir = java.nio.file.Files.createTempDirectory("tomb_docs")
    docs.withColumn("delta", lit(1L))
      .select(col("delta"), col("lang"), col("source"), col("text"))
      .coalesce(1).write.parquet(dir.resolve("f0").toString)
    docs.filter(col("doc_id") % Round14Ops.DelMod === 0)
      .withColumn("delta", lit(-1L))
      .select(col("delta"), col("lang"), col("source"), col("text"))
      .coalesce(1).write.parquet(dir.resolve("f1").toString)
    val schema = docs.withColumn("delta", lit(1L))
      .select(col("delta"), col("lang"), col("source"), col("text")).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.resolve("*").toString)
    // explicit batch-id version column (ADVICE r14): latest update per
    // cell is max(upd) under the foreachBatch epoch-id contract, not an
    // accident of memory-sink append order
    val sink = java.nio.file.Files.createTempDirectory("tomb_sink")
      .resolve("out").toString
    val q = EventStream.runToParquetVersioned(
      CorpusStream.tombstoneCellStream(stream), sink)
    try {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"), col("source"), col("len_b"))
        .orderBy(col("upd").desc)
      val got = spark.read.parquet(sink)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(graft.functions.Portable.polyHash(concat_ws("|",
          col("lang"), col("source"), col("len_b").cast("string"))).as("key"),
          col("n_live"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      // batch truth: q330's maintained release_cell state (keyed the
      // same way), INCLUDING cells whose members were all deleted
      val want = Round14Ops.q330DeletionPropagation(spark, sf)
        .filter(col("domain") === "release_cell")
        .select(col("key"), col("n_after"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(want.nonEmpty && got.sameElements(want),
        s"stream cells ${got.length} != batch cells ${want.length}")
      // the retraction is real: some cell converged to exactly 0
      assert(got.exists(_._2 == 0L), "a fully-tombstoned cell must read 0")
    } finally q.stop()
  }

  test("dpReleaseStream: converged quasi-cell counters release EXACTLY q321's fine level") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    // two micro-batches: the quasi-cell counters must merge by vector
    // addition across the boundary — q321's partial-aggregability claim
    val dir = java.nio.file.Files.createTempDirectory("dp_docs")
    docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      .select(col("lang"), col("source"), col("text"))
      .coalesce(1).write.parquet(dir.resolve("f0").toString)
    docs.filter(pmod(col("doc_id"), lit(2)) =!= 0)
      .select(col("lang"), col("source"), col("text"))
      .coalesce(1).write.parquet(dir.resolve("f1").toString)
    val stream = spark.readStream
      .schema(docs.select(col("lang"), col("source"), col("text")).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.resolve("*").toString)
    // explicit batch-id version column (ADVICE r14), as in the tombstone twin
    val sink = java.nio.file.Files.createTempDirectory("dp_sink")
      .resolve("out").toString
    val q = EventStream.runToParquetVersioned(
      CorpusStream.dpReleaseStream(stream), sink)
    try {
      // last update per cell is the converged counter
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"), col("source"), col("len_b"))
        .orderBy(col("upd").desc)
      val cells = spark.read.parquet(sink)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("lang"), col("source"), col("len_b"), col("n_true"))
      // read-time noise under the frozen salt = the release itself
      val got = operators.Round14Ops.dpReleaseProjection(cells)
        .orderBy(col("lang"), col("source"), col("len_b")).collect()
      // batch truth: q321's fine (level-1) rows, same columns
      val want = operators.Round13Ops.q321DpRelease(spark, sf)
        .filter(col("level") === 1)
        .select(col("lang"), col("source"), col("len_b"), col("n_true"),
          col("suppressed"), col("u"), col("noise"), col("n_released"))
        .orderBy(col("lang"), col("source"), col("len_b")).collect()
      assert(want.nonEmpty && got.length == want.length,
        s"stream cells ${got.length} != batch cells ${want.length}")
      assert(got.map(_.toString).sameElements(want.map(_.toString)),
        "streamed release must equal the batch fine level column for column")
    } finally q.stop()
  }

  test("continualCounterStream: converged node counters release EXACTLY batch q335") {
    import graft.operators.Round15Ops
    val docs = Tables.documents(spark, sf)
      .select(col("lang"),
        pmod(col("doc_id"), lit(Round15Ops.CrT.toLong)).as("epoch"))
    // two micro-batches split ACROSS the epoch grid (epochs 0-3 then
    // 4-7): the per-node counters must merge by vector addition across
    // the boundary — nodes at levels 2-3 span both batches
    val dir = java.nio.file.Files.createTempDirectory("cr_docs")
    docs.filter(col("epoch") < 4).coalesce(1)
      .write.parquet(dir.resolve("f0").toString)
    docs.filter(col("epoch") >= 4).coalesce(1)
      .write.parquet(dir.resolve("f1").toString)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.resolve("*").toString)
    val sink = java.nio.file.Files.createTempDirectory("cr_sink")
      .resolve("out").toString
    val q = EventStream.runToParquetVersioned(
      CorpusStream.continualCounterStream(stream), sink)
    try {
      // latest update per node is the converged counter (explicit
      // batch-id version column — the ADVICE r14 contract)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"), col("level"), col("idx"))
        .orderBy(col("upd").desc)
      val nodeCounts = spark.read.parquet(sink)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("lang"), col("level"), col("idx"), col("n_node"))
      // read-time release under the frozen node-tagged salts = the
      // identical formula batch q335 runs
      val langs = Tables.documents(spark, sf).select(col("lang")).distinct()
      val got = Round15Ops.crRelease(spark, nodeCounts, langs)
        .orderBy(col("lang"), col("epoch"), col("level").desc).collect()
      val want = Round15Ops.q335ContinualCounter(spark, sf)
        .orderBy(col("lang"), col("epoch"), col("level").desc).collect()
      assert(want.nonEmpty && got.length == want.length,
        s"stream rows ${got.length} != batch rows ${want.length}")
      assert(got.map(_.toString).sameElements(want.map(_.toString)),
        "streamed continual release must equal batch q335 column for column")
    } finally q.stop()
  }

  test("tombstoneBandStream: -1 deletions converge to q337's maintained band buckets") {
    import graft.operators.{Round14Ops, Round15Ops}
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // the FROZEN hot list: the index's own full-corpus df statistics —
    // a model parameter of the standing index, shared with batch q337
    val hot = Round15Ops.eraseShingles(spark, sf)
      .groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > Round15Ops.EraseDfCap)
      .collect().map(_.getLong(0)).toSeq
    assert(hot.nonEmpty, "fixture must exercise the hot-list filter")
    // micro-batch 1: the corpus as +1 index rows; micro-batch 2: the
    // deletion list as -1 tombstones — band-bucket state must RETRACT
    val dir = java.nio.file.Files.createTempDirectory("band_docs")
    docs.withColumn("delta", lit(1L)).select(col("delta"), col("text"))
      .coalesce(1).write.parquet(dir.resolve("f0").toString)
    docs.filter(col("doc_id") % Round14Ops.DelMod === 0)
      .withColumn("delta", lit(-1L)).select(col("delta"), col("text"))
      .coalesce(1).write.parquet(dir.resolve("f1").toString)
    val schema = docs.withColumn("delta", lit(1L))
      .select(col("delta"), col("text")).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.resolve("*").toString)
    val sink = java.nio.file.Files.createTempDirectory("band_sink")
      .resolve("out").toString
    val q = EventStream.runToParquetVersioned(
      CorpusStream.tombstoneBandStream(stream, hot), sink)
    try {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("band"), col("v0"), col("v1"))
        .orderBy(col("upd").desc)
      val got = spark.read.parquet(sink)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(graft.functions.Portable.polyHash(concat_ws("|",
          col("band").cast("string"), col("v0").cast("string"),
          col("v1").cast("string"))).as("key"), col("n_live"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      val want = Round15Ops.q337BandErasure(spark, sf)
        .filter(col("domain") === "band_bucket")
        .select(col("key"), col("n_after"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(want.nonEmpty && got.sameElements(want),
        s"stream buckets ${got.length} != batch buckets ${want.length}")
      // the retraction is real: some fully-tombstoned bucket reads 0
      assert(got.exists(_._2 == 0L), "a fully-tombstoned bucket must read 0")
    } finally q.stop()
  }
}
