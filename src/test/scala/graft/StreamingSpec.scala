package graft

import org.apache.spark.sql.functions._
import graft.events.Events
import graft.streaming.EventsStream

/** Structured Streaming twins vs their batch oracles on the sf0.001 events
  * table (read as a one-file streaming source). */
class StreamingSpec extends SparkSpec {

  /** The streaming file source needs a directory; stage the single events
    * file into a temp dir. */
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  test("watermarked tumbling-window counts equal the batch window aggregation") {
    val streamed = EventsStream.runWindowedBatch(spark, dir, "win_test")
      .select(unix_micros(col("window.start")).as("w_start"), col("event_type"), col("cnt"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap

    val ev0 = Events.events(spark, "/root/testdata/sf0.001")
    val batch = ev0
      .withColumn("ts_us", Events.tsMicros(ev0))
      .groupBy((expr("ts_us div 300000000") * 300000000L).as("w_start"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap

    assert(streamed == batch)
  }

  test("sliding-window streaming counts equal the batch covering-window explode") {
    val q = EventsStream.slidingCounts(EventsStream.readStream(spark, dir))
      .writeStream.outputMode("complete").format("memory").queryName("slide_test").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("slide_test")
      .select(unix_micros(col("window.start")).as("w_start"), col("event_type"), col("cnt"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = Events.slidingByType(Events.events(spark, "/root/testdata/sf0.001"))
      .select(col("w_start"), col("event_type"), col("cnt"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
  }

  test("streaming dedup drops duplicate event_ids within the watermark") {
    import org.apache.spark.sql.functions._
    // stage the same file twice -> every event arrives twice
    val d = java.nio.file.Files.createTempDirectory("events_dup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"), d.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"), d.resolve("b.parquet"))
    val q = EventsStream.dedupedEvents(EventsStream.readStream(spark, d.toString))
      .writeStream.outputMode("append").format("memory").queryName("dedup_test").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("dedup_test").count()
    val want = Events.events(spark, "/root/testdata/sf0.001").count()
    assert(got == want, s"expected $want deduped events, got $got")
  }

  test("stream-stream interval join matches the batch interval join") {
    import org.apache.spark.sql.functions._
    val q = EventsStream.errorsJoinedToRecentPurchases(EventsStream.readStream(spark, dir))
      .writeStream.outputMode("append").format("memory").queryName("ssj_test").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ssj_test")
      .select("err_id", "p_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val ev0 = Events.events(spark, "/root/testdata/sf0.001")
    val ev = ev0.withColumn("ts_us", Events.tsMicros(ev0))
    val err = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts_us").as("err_ts"), col("event_id").as("err_id"))
    val pur = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts_us").as("p_ts"), col("event_id").as("p_id"))
    val batch = err.join(pur,
        col("user_id") === col("p_user") &&
          col("p_ts") <= col("err_ts") &&
          col("p_ts") >= col("err_ts") - lit(600000000L))
      .select("err_id", "p_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
  }

  // ------------------------------------------------- late / out-of-order

  /** Write one parquet file of events into `dir` with a controlled
    * modification time — the file source processes files
    * oldest-modTime-first, so ascending mod times force the batch order
    * the late-data tests need. Call sites pass ts in NANOS (the `minNs`
    * helper); the stage converts to the TIMESTAMP_NTZ(micros) the current
    * testdata (and [[EventsStream.schema]]) carries. */
  private def stageEventsFile(dir: java.nio.file.Path, name: String, modTime: Long,
                              rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("evt_stage")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp)
      .filter(p => p.toString.endsWith(".parquet")).findFirst().get
    val target = dir.resolve(name)
    java.nio.file.Files.copy(part, target)
    assert(target.toFile.setLastModified(modTime))
  }

  private def minNs(m: Double): Long = (m * 60e9).toLong

  test("tumbling windows drop data past the 10-minute watermark; divergence from batch is exactly the dropped rows") {
    val d = java.nio.file.Files.createTempDirectory("events_late")
    // batch 1: two rows in window [0,5), one row at 32min that pushes the
    // watermark to 22min after the batch
    stageEventsFile(d, "a.parquet", 1000000L, Seq(
      (1L, minNs(2), 10L, "click", 1.0, "{}"),
      (2L, minNs(3), 10L, "click", 1.0, "{}"),
      (3L, minNs(32), 10L, "click", 1.0, "{}")))
    // batch 2: an on-time row; the batch runs with watermark 22min, which
    // finalizes+emits window [0,5) at batch end AND becomes the
    // late-record filter for the NEXT batch (Spark filters late rows with
    // the PREVIOUS batch's watermark, so a row arriving in the same batch
    // that advances the watermark past it is still accepted)
    stageEventsFile(d, "b.parquet", 2000000L, Seq(
      (4L, minNs(36), 10L, "click", 1.0, "{}")))
    // batch 3: the LATE row for window [0,5) — 2.5min is far past the
    // 22min filter watermark and the window's state is already emitted
    // and evicted, so the row is DROPPED
    stageEventsFile(d, "c.parquet", 3000000L, Seq(
      (5L, minNs(2.5), 10L, "click", 1.0, "{}")))
    val q = EventsStream.windowedCounts(EventsStream.readStream(spark, d.toString))
      .writeStream.outputMode("append").format("memory").queryName("late_win_test").start()
    q.processAllAvailable(); q.stop()
    info("batches: " + q.recentProgress.map(p =>
      s"rows=${p.numInputRows} wm=${p.eventTime.get("watermark")}").mkString(" | "))
    val emitted = spark.table("late_win_test")
      .select(unix_micros(col("window.start")).as("w_start"), col("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the finalized [0,5) window counts ONLY the two on-time rows
    assert(emitted == Map(0L -> 2L), s"emitted=$emitted")
    // the batch twin over the same files sees the late row too: the
    // streaming/batch divergence is exactly the one dropped record
    val raw = spark.read.schema(EventsStream.schema).parquet(d.toString)
    val batch = raw.withColumn("ts_us", Events.tsMicros(raw))
      .groupBy((expr("ts_us div 300000000") * 300000000L).as("w_start"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch(0L) == 3L, s"batch=$batch")
    assert(batch(0L) - emitted(0L) == 1L, "divergence must be exactly the dropped late row")
  }

  test("late event folds into the currently-open session; closed sessions stay immutable") {
    val d = java.nio.file.Files.createTempDirectory("events_late_sess")
    // batch 1: session A forming for user 1 (events at 0 and 4 min)
    stageEventsFile(d, "a.parquet", 1000000L, Seq(
      (1L, minNs(0), 1L, "click", 1.0, "{}"),
      (2L, minNs(4), 1L, "click", 1.0, "{}")))
    // batch 2: a 56-minute gap closes A and opens session B at 60min
    stageEventsFile(d, "b.parquet", 2000000L, Seq(
      (3L, minNs(60), 1L, "click", 1.0, "{}")))
    // batch 3: a LATE event at 30min — older than B's start, newer than
    // A's close. Documented semantics: it can only extend the CURRENT
    // session (start moves back via min), never reopen the already-emitted
    // A — the trade the data-driven close makes for batch-comparability.
    stageEventsFile(d, "c.parquet", 3000000L, Seq(
      (4L, minNs(30), 1L, "click", 1.0, "{}")))
    // batch 4: a 60-minute gap closes B so the test can observe it
    stageEventsFile(d, "d.parquet", 4000000L, Seq(
      (5L, minNs(120), 1L, "click", 1.0, "{}")))
    val q = EventsStream.sessionize(EventsStream.readStream(spark, d.toString))
      .writeStream.outputMode("append").format("memory").queryName("late_sess_test").start()
    q.processAllAvailable(); q.stop()
    val sessions = spark.table("late_sess_test")
      .select("start_us", "end_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val us = (m: Double) => (m * 60e6).toLong
    // A emitted once with its original bounds; B absorbed the late event
    // (start pulled back to 30min) and closed with 2 events
    assert(sessions == Set(
      (us(0), us(4), 2),
      (us(30), us(60), 2)), s"sessions=$sessions")
  }

  test("stateful streaming sessionization matches batch sessions (closed sessions)") {
    val closed = EventsStream.sessionize(EventsStream.readStream(spark, dir))
    val q = closed.writeStream.outputMode("append").format("memory").queryName("sess_test").start()
    q.processAllAvailable(); q.stop()
    val streamedSessions = spark.table("sess_test")
      .select(col("user_id"), (col("end_us") - col("start_us")).as("dur"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong))
      .groupBy(identity).view.mapValues(_.length).toMap

    val batch = Events.sessionize(Events.events(spark, "/root/testdata/sf0.001"))
    // streaming emits only closed sessions: every user's last batch session stays open
    val lastPerUser = batch.groupBy("user_id").agg(max("session_id").as("session_id"))
    val batchClosed = batch.join(lastPerUser, Seq("user_id", "session_id"), "left_anti")
      .select(col("user_id"), col("duration_us"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(identity).view.mapValues(_.length).toMap

    assert(streamedSessions == batchClosed)
  }

  test("incremental events ingestion matches the batch hourly aggregation after every file drop") {
    // the NGramStream contract applied to the events stream: files drop
    // into a directory, only new files are read, and the running hourly
    // table must equal the BATCH engine re-run on the union of all files
    // so far — pinned after EVERY drop, not just at the end
    val d = java.nio.file.Files.createTempDirectory("events_inc")
    val all = Events.events(spark, "/root/testdata/sf0.001")
    def stage(name: String, modTime: Long, parityKeep: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("events_inc_stage")
      spark.read.schema(EventsStream.schema)
        .parquet("/root/testdata/sf0.001/events.parquet")
        .filter(pmod(col("event_id"), lit(2L)) === parityKeep)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get
      val target = d.resolve(name)
      java.nio.file.Files.copy(part, target)
      assert(target.toFile.setLastModified(modTime))
    }
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    def batchHourly(parities: Long*) = key(
      Events.hourlyByType(all.filter(pmod(col("event_id"), lit(2L)).isin(parities: _*)))
        .select("hour", "event_type", "cnt", "sum_value"))

    stage("a.parquet", 1000000L, parityKeep = 0L)
    val q = EventsStream.hourlyCounts(EventsStream.readStream(spark, d.toString))
      .writeStream.outputMode("complete").format("memory").queryName("events_inc").start()
    q.processAllAvailable()
    assert(key(spark.table("events_inc")) == batchHourly(0L),
      "after drop 1: incremental hourly counts must equal the batch engine on file 1")

    stage("b.parquet", 2000000L, parityKeep = 1L)
    q.processAllAvailable(); q.stop()
    assert(key(spark.table("events_inc")) == batchHourly(0L, 1L),
      "after drop 2: incremental hourly counts must equal the batch engine on both files")
    org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
  }

  test("incremental ngram ingestion matches the batch engine after every shard drop") {
    import graft.sources.NGramSource
    import graft.streaming.NGramStream
    def res(name: String): String = getClass.getResource(s"/ngrams/$name").getPath
    val d = java.nio.file.Files.createTempDirectory("graft-ngram-stream")
    def drop(src: String, as: String): Unit = java.nio.file.Files.copy(
      java.nio.file.Paths.get(res(src)), d.resolve(as))
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)) -> r.getLong(3)).toMap
    def batchCounts(paths: String*) = key(
      NGramSource.unigrams(NGramSource.read(spark, paths: _*))
        .withColumn("decade", graft.ops.Normalize.toDecade(col("year")))
        .groupBy("lang", "decade", "w").agg(sum(col("occurrences")).as("c1"))
        .select("lang", "decade", "w", "c1"))

    drop("eng-1gram.tsv", "eng-shard1.tsv")
    val q = NGramStream.unigramCounts(NGramStream.readStream(spark, d.toString))
      .select("lang", "decade", "w", "c1")
      .writeStream.outputMode("complete").format("memory").queryName("ngram_inc").start()
    q.processAllAvailable()
    assert(key(spark.table("ngram_inc")) == batchCounts(s"$d/eng-shard1.tsv"),
      "after drop 1: incremental counts must equal the batch engine on shard 1")

    // a second drop in the OTHER language: only new files are read, yet
    // the running table must equal a batch re-run over everything so far
    drop("heb-1gram.tsv", "heb-shard2.tsv")
    q.processAllAvailable(); q.stop()
    assert(key(spark.table("ngram_inc")) ==
      batchCounts(s"$d/eng-shard1.tsv", s"$d/heb-shard2.tsv"),
      "after drop 2: incremental counts must equal the batch engine on both shards")
    org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
  }

  test("streaming dedup-index ingest serves results identical to a full rebuild after every drop") {
    import graft.streaming.DedupStream
    import graft.dedup.Dedup
    val watch = java.nio.file.Files.createTempDirectory("graft-dedup-stream")
    val index = java.nio.file.Files.createTempDirectory("graft-dedup-stream-idx")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-dedup-stream-ckpt")
    val all = graft.collocations.Collocations.documents(spark, "/root/testdata/sf0.001")
    def drop(name: String, parityKeep: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-dedup-stage")
      all.filter(pmod(col("doc_id"), lit(3L)) === parityKeep)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get
      java.nio.file.Files.copy(part, watch.resolve(name))
    }
    def served() = DedupStream.sigs(spark, index.toString) // serve path: index only
      .transform(s => Dedup.jaccardVerifyFromIndex(s, DedupStream.sets(spark, index.toString), threshold = 0.5))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(5))).toSet
    def rebuilt(parities: Long*) =
      Dedup.jaccardVerify(all.filter(pmod(col("doc_id"), lit(3L)).isin(parities: _*)), threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(5))).toSet

    drop("a.parquet", 0L)
    val q = DedupStream.ingest(DedupStream.readStream(spark, watch.toString),
      index.toString, ckpt.toString)
    q.processAllAvailable()
    assert(served() == rebuilt(0L),
      "after drop 1: serving from the streamed index must equal a rebuild on shard 1")

    drop("b.parquet", 1L); drop("c.parquet", 2L)
    q.processAllAvailable(); q.stop()
    assert(served() == rebuilt(0L, 1L, 2L),
      "after drops 2+3: serving from the streamed index must equal a full-corpus rebuild")
    assert(served().nonEmpty, "the sf0.001 corpus has known near-dup pairs; empty means a broken join")

    // replay idempotence: re-running an already-committed micro-batch (the
    // failure-between-writes restart case) must replace its partition, not
    // append duplicates — serve results unchanged
    val before = served()
    DedupStream.appendBatch(all.filter(pmod(col("doc_id"), lit(3L)) === 0L), index.toString, 0L)
    assert(DedupStream.sigs(spark, index.toString).groupBy("doc_id").count()
      .filter(col("count") > 1).isEmpty, "replaying batch 0 must not duplicate signatures")
    assert(served() == before, "replaying batch 0 must leave serve results unchanged")
    Seq(watch, index, ckpt).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(p.toFile))
  }

  test("streaming winnow-index ingest serves overlap identical to a full rebuild after every drop") {
    import graft.streaming.DedupStream
    import graft.dedup.Dedup
    val watch = java.nio.file.Files.createTempDirectory("graft-winnow-stream")
    val index = java.nio.file.Files.createTempDirectory("graft-winnow-stream-idx")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-winnow-stream-ckpt")
    val all = graft.collocations.Collocations.documents(spark, "/root/testdata/sf0.001")
    def drop(name: String, parityKeep: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-winnow-stage")
      all.filter(pmod(col("doc_id"), lit(2L)) === parityKeep)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get
      java.nio.file.Files.copy(part, watch.resolve(name))
    }
    def served() = Dedup.winnowOverlapFrom(DedupStream.winnowFp(spark, index.toString))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def rebuilt(parities: Long*) =
      Dedup.winnowOverlap(all.filter(pmod(col("doc_id"), lit(2L)).isin(parities: _*)))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    drop("a.parquet", 0L)
    val q = DedupStream.ingestWinnow(DedupStream.readStream(spark, watch.toString),
      index.toString, ckpt.toString)
    q.processAllAvailable()
    assert(served() == rebuilt(0L),
      "after drop 1: serving from the streamed winnow index must equal a rebuild on shard 1")

    drop("b.parquet", 1L)
    q.processAllAvailable(); q.stop()
    assert(served() == rebuilt(0L, 1L),
      "after drop 2: serving from the streamed winnow index must equal a full-corpus rebuild")
    assert(served().nonEmpty, "the sf0.001 corpus has known overlapping docs; empty means a broken join")

    // replay idempotence: re-committing batch 0 replaces its partition
    val before = served()
    DedupStream.appendWinnowBatch(
      all.filter(pmod(col("doc_id"), lit(2L)) === 0L), index.toString, 0L)
    assert(served() == before, "replaying batch 0 must leave serve results unchanged")
    Seq(watch, index, ckpt).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(p.toFile))
  }

  test("streaming substring-anchor ingest serves matches identical to a full rebuild after every drop") {
    import graft.streaming.DedupStream
    import graft.dedup.Dedup
    val watch = java.nio.file.Files.createTempDirectory("graft-substr-stream")
    val index = java.nio.file.Files.createTempDirectory("graft-substr-stream-idx")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-substr-stream-ckpt")
    val all = graft.collocations.Collocations.documents(spark, "/root/testdata/sf0.001")
    def drop(name: String, parityKeep: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-substr-stage")
      all.filter(pmod(col("doc_id"), lit(2L)) === parityKeep)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get
      java.nio.file.Files.copy(part, watch.resolve(name))
    }
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    // the serve side reads anchors from the LIVE index; document text for
    // the extension comes from the corpus store (here: the same table,
    // restricted to the ingested shards)
    def served(parities: Long*) = Dedup.substringMatchesFrom(
        DedupStream.substringAnchorsTable(spark, index.toString),
        all.filter(pmod(col("doc_id"), lit(2L)).isin(parities: _*)), minLen = 30)
      .collect().map(key).toSet
    def rebuilt(parities: Long*) =
      Dedup.substringMatches(
          all.filter(pmod(col("doc_id"), lit(2L)).isin(parities: _*)), minLen = 30)
        .collect().map(key).toSet

    drop("a.parquet", 0L)
    val q = DedupStream.ingestSubstring(DedupStream.readStream(spark, watch.toString),
      index.toString, ckpt.toString)
    q.processAllAvailable()
    assert(served(0L) == rebuilt(0L),
      "after drop 1: serving from the streamed anchor index must equal a rebuild on shard 1")

    drop("b.parquet", 1L)
    q.processAllAvailable(); q.stop()
    val full = served(0L, 1L)
    assert(full == rebuilt(0L, 1L),
      "after drop 2: serving from the streamed anchor index must equal a full-corpus rebuild")
    assert(full.nonEmpty, "sf0.001 has known >=30-char cross-doc matches; empty means a broken join")

    // replay idempotence: re-committing batch 0 replaces its partition
    DedupStream.appendSubstringBatch(
      all.filter(pmod(col("doc_id"), lit(2L)) === 0L), index.toString, 0L)
    assert(served(0L, 1L) == full, "replaying batch 0 must leave serve results unchanged")
    Seq(watch, index, ckpt).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(p.toFile))
  }

  test("streaming decontamination gate flags each shard exactly like the batch query") {
    import graft.streaming.{DedupStream, DeconStream}
    import graft.dedup.Dedup
    val watch = java.nio.file.Files.createTempDirectory("graft-decon-stream")
    val refDir = java.nio.file.Files.createTempDirectory("graft-decon-ref")
    val outDir = java.nio.file.Files.createTempDirectory("graft-decon-out").resolve("flagged")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-decon-ckpt")
    val all = graft.collocations.Collocations.documents(spark, "/root/testdata/sf0.001")
    val isBench = col("source") === "src0"
    // benchmark anchors + corpus built ONCE and persisted (the
    // build-once/serve-many contract); incoming = non-bench docs in two
    // shard drops
    Dedup.substringAnchors(all.filter(isBench), 24, 7)
      .write.mode("overwrite").parquet(refDir.resolve("anchors").toString)
    all.filter(isBench)
      .write.mode("overwrite").parquet(refDir.resolve("docs").toString)
    val benchAnchors = spark.read.parquet(refDir.resolve("anchors").toString)
    val benchDocs = spark.read.parquet(refDir.resolve("docs").toString)
    def drop(name: String, parity: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-decon-stage")
      all.filter(!isBench && pmod(col("doc_id"), lit(2L)) === parity)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get
      java.nio.file.Files.copy(part, watch.resolve(name))
    }
    drop("a.parquet", 0L)
    // the gate takes DIRECTORIES, re-read per micro-batch — a captured
    // DataFrame would pin its file listing across a publishSwap refresh
    val q = DeconStream.gate(DedupStream.readStream(spark, watch.toString),
      refDir.resolve("anchors").toString, refDir.resolve("docs").toString,
      outDir.toString, ckpt.toString)
    q.processAllAvailable()
    drop("b.parquet", 1L)
    q.processAllAvailable(); q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
    val streamed = DeconStream.flagged(spark, outDir.toString).collect().map(key).toSet
    val batch = Dedup.decontaminateSubstring(all, isBench).collect().map(key).toSet
    assert(streamed == batch,
      s"stream reports must equal the batch query (${streamed.size} vs ${batch.size})")
    assert(streamed.nonEmpty, "sf0.001 has known cross-source leaks; empty means a dead join")
    // replay idempotence: re-gating an already-committed batch replaces
    // its partition instead of appending duplicate report rows
    DeconStream.gateBatch(
        all.filter(!isBench && pmod(col("doc_id"), lit(2L)) === 0L), benchAnchors, benchDocs)
      .withColumn("ingest_batch", lit(0L))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch").parquet(outDir.toString)
    val after = DeconStream.flagged(spark, outDir.toString).collect().map(key)
    assert(after.toSet == batch && after.length == after.toSet.size,
      "replaying batch 0 must leave the flagged table unchanged")
    Seq(watch, ckpt).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(p.toFile))
  }

  test("streaming novelty triage scores each shard exactly like the batch query") {
    import graft.streaming.{DedupStream, NoveltyStream}
    import graft.dedup.Dedup
    val watch = java.nio.file.Files.createTempDirectory("graft-novelty-stream")
    val refDir = java.nio.file.Files.createTempDirectory("graft-novelty-ref")
    val outDir = java.nio.file.Files.createTempDirectory("graft-novelty-out").resolve("scores")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-novelty-ckpt")
    val all = graft.collocations.Collocations.documents(spark, "/root/testdata/sf0.001")
    // reference = even docs, built ONCE and persisted (the build-once/
    // serve-many contract); incoming = odd docs in two shard drops
    Dedup.referenceShingles(all.filter(col("doc_id") % 2 === 0))
      .write.mode("overwrite").parquet(refDir.toString)
    val refSh = spark.read.parquet(refDir.toString)
    def drop(name: String, mod4: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-novelty-stage")
      all.filter(col("doc_id") % 4 === mod4)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get
      java.nio.file.Files.copy(part, watch.resolve(name))
    }
    drop("a.parquet", 1L)
    val q = NoveltyStream.triage(DedupStream.readStream(spark, watch.toString),
      refSh, outDir.toString, ckpt.toString)
    q.processAllAvailable()          // batch 0 = shard a (doc_id % 4 == 1)
    drop("b.parquet", 3L)
    q.processAllAvailable(); q.stop() // batch 1 = shard b
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val streamed = NoveltyStream.scores(spark, outDir.toString)
      .select("doc_id", "n_shingles", "n_seen", "novelty").collect().map(key).toSet
    // incoming = all odd docs = exactly the two streamed shards; the
    // reference side is the same all-evens table the stream served from
    val batch = Dedup.noveltyScores(all, col("doc_id") % 2 === 0)
      .collect().map(key).toSet
    assert(streamed == batch,
      s"stream scores must equal the batch query on the same docs (${streamed.size} vs ${batch.size})")
    assert(streamed.nonEmpty && streamed.exists(_._4 < 1.0),
      "the synthetic corpus shares shingles across parity classes; all-1.0 means a dead join")
    // replay idempotence: re-scoring an already-committed batch replaces
    // its partition instead of appending duplicate rows
    NoveltyStream.scoreBatch(all.filter(col("doc_id") % 4 === 1), refSh)
      .withColumn("ingest_batch", org.apache.spark.sql.functions.lit(0L))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch").parquet(outDir.toString)
    val after = NoveltyStream.scores(spark, outDir.toString)
      .select("doc_id", "n_shingles", "n_seen", "novelty").collect().map(key)
    assert(after.length == after.toSet.size && after.toSet == streamed,
      "replaying batch 0 must leave the score table unchanged")
    Seq(watch, refDir, outDir.getParent, ckpt).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(p.toFile))
  }

  test("ngram stream language rides on the file's basename, not the watch directory's path") {
    import graft.streaming.NGramStream
    // an English shard inside a directory whose PATH contains 'heb' must
    // still classify as English — the regression the basename match fixes
    val d = java.nio.file.Files.createTempDirectory("hebrew-watch")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(getClass.getResource("/ngrams/eng-1gram.tsv").getPath),
      d.resolve("eng-shard.tsv"))
    val q = NGramStream.unigramCounts(NGramStream.readStream(spark, d.toString))
      .writeStream.outputMode("complete").format("memory").queryName("ngram_basename").start()
    q.processAllAvailable(); q.stop()
    val langs = spark.table("ngram_basename").select("lang").distinct()
      .collect().map(_.getString(0)).toSet
    assert(langs == Set(graft.sources.NGramSource.EN),
      s"shard in a 'heb'-pathed directory must classify by basename: $langs")
    org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
  }

  test("streaming count-min sketch stays cell-identical to the batch build after every drop") {
    import graft.streaming.CmsStream
    import graft.ops.CountMin
    val watch = java.nio.file.Files.createTempDirectory("graft-cms-stream")
    val all = graft.collocations.Collocations.documents(spark, "/root/testdata/sf0.001")
    def drop(name: String, parityKeep: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-cms-stage")
      all.filter(pmod(col("doc_id"), lit(3L)) === parityKeep)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get
      java.nio.file.Files.copy(part, watch.resolve(name))
    }
    def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    def batchCells(parities: Long*) = cells(CountMin.sketch(
      CountMin.bigramItems(
        all.filter(pmod(col("doc_id"), lit(3L)).isin(parities: _*)), col("text")),
      col("item"), depth = 4, width = 64))

    drop("a.parquet", 0L)
    val q = CmsStream.runningSketch(CmsStream.readStream(spark, watch.toString),
        depth = 4, width = 64)
      .writeStream.outputMode("complete").format("memory").queryName("cms_inc").start()
    q.processAllAvailable()
    assert(cells(spark.table("cms_inc")) == batchCells(0L),
      "after drop 1: the running grid must equal the batch sketch on shard 1")

    // second drop: only the new file is read, yet every cell must equal
    // the batch engine re-run on the union — the streaming form of the
    // cms_sketch_merged cell-exact mergeability gate
    drop("b.parquet", 1L)
    q.processAllAvailable(); q.stop()
    assert(cells(spark.table("cms_inc")) == batchCells(0L, 1L),
      "after drop 2: the running grid must equal the batch sketch on both shards")
    org.apache.commons.io.FileUtils.deleteDirectory(watch.toFile)
  }

  test("streaming drift monitor flags a shifted delivery and passes an in-distribution one") {
    import graft.streaming.{DedupStream, DriftStream}
    val refDir = java.nio.file.Files.createTempDirectory("graft-drift-ref")
    val watch = java.nio.file.Files.createTempDirectory("graft-drift-watch")
    val out = java.nio.file.Files.createTempDirectory("graft-drift-out")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-drift-ckpt")
    val all = graft.collocations.Collocations.documents(spark, "/root/testdata/sf0.001")
    DriftStream.buildReference(all, "n_chars", refDir.toString, nBins = 10, exact = true)
    assert(DriftStream.refBins(spark, refDir.toString).count() <= 10,
      "reference bin table must be metadata-sized")

    def dropDf(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-drift-stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get
      java.nio.file.Files.copy(part, watch.resolve(name))
    }
    // delivery 1: a subset of the reference corpus itself (in-distribution)
    dropDf(all.filter(pmod(col("doc_id"), lit(3L)) === 0), "a.parquet")
    val q = DriftStream.monitor(
      DedupStream.readStream(spark, watch.toString), "n_chars",
      refDir.toString, out.toString, ckpt.toString)
    q.processAllAvailable()
    // delivery 2: every document far outside the reference length range
    dropDf(all.limit(30).withColumn("n_chars", lit(10000L)), "b.parquet")
    q.processAllAvailable(); q.stop()

    val log = DriftStream.driftLog(spark, out.toString)
      .collect().map(r => r.getAs[Long]("ingest_batch") ->
        (r.getAs[Long]("n_rows"), r.getAs[Double]("psi"))).toMap
    assert(log.keySet == Set(0L, 1L), s"one score row per delivery: ${log.keySet}")
    val (inDist, shifted) = (log(0L)._2, log(1L)._2)
    assert(shifted > 1.0, s"all-mass-in-one-bin delivery must flag hard: $shifted")
    assert(inDist < 0.5 && inDist < shifted / 4,
      s"in-distribution subset must score far below the shifted one: $inDist vs $shifted")
    // the logged row IS the batch scorer's output — same code path both ways
    val direct = DriftStream.psiBatch(
      all.filter(pmod(col("doc_id"), lit(3L)) === 0), "n_chars",
      DriftStream.edges(spark, refDir.toString), DriftStream.refBins(spark, refDir.toString))
      .collect().head
    assert(direct.getAs[Double]("psi") == inDist && direct.getAs[Long]("n_rows") == log(0L)._1,
      "stream-logged score must equal the direct batch scorer on the same shard")
    Seq(refDir, watch, out, ckpt).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(p.toFile))
  }

  test("streaming volume monitor folds shard partials and rescoring equals the batch operator") {
    import graft.streaming.{AnomalyStream, DedupStream}
    import graft.events.Events
    val watch = java.nio.file.Files.createTempDirectory("graft-anom-watch")
    val log = java.nio.file.Files.createTempDirectory("graft-anom-log").resolve("log")
    val out = java.nio.file.Files.createTempDirectory("graft-anom-out").resolve("scores")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-anom-ckpt")
    val all = Events.events(spark, "/root/testdata/sf0.001")
    def drop(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-anom-stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get
      java.nio.file.Files.copy(part, watch.resolve(name))
    }
    // two deliveries splitting the same event set by parity — the folded
    // hourly grid must equal the single-batch aggregation
    drop(all.filter(pmod(col("event_id"), lit(2L)) === 0), "a.parquet")
    val q = AnomalyStream.monitor(
      graft.streaming.EventsStream.readStream(spark, watch.toString),
      log.toString, out.toString, ckpt.toString, window = 6, minHist = 3)
    q.processAllAvailable()
    drop(all.filter(pmod(col("event_id"), lit(2L)) === 1), "b.parquet")
    q.processAllAvailable(); q.stop()

    val streamed = AnomalyStream.scores(spark, out.toString)
      .collect().map(r => (r.getAs[Long]("hour"), r.getAs[String]("event_type")) ->
        (r.getAs[Long]("cnt"), r.getAs[Any]("z"))).toMap
    val batch = Events.hourlyAnomaly(all, window = 6, minHist = 3)
      .collect().map(r => (r.getAs[Long]("hour"), r.getAs[String]("event_type")) ->
        (r.getAs[Long]("cnt"), r.getAs[Any]("z"))).toMap
    assert(streamed == batch,
      s"folded-and-rescored table must equal the batch operator (${streamed.size} vs ${batch.size} rows)")
    assert(streamed.nonEmpty)
    org.apache.commons.io.FileUtils.deleteDirectory(watch.toFile)
  }

  test("streaming snapshot diff logs each shard's added/changed rows, matching the batch diff") {
    import graft.streaming.{DedupStream, DiffStream}
    import graft.pipelines.CorpusDiff
    val baseDir = java.nio.file.Files.createTempDirectory("graft-diff-base")
    val watch = java.nio.file.Files.createTempDirectory("graft-diff-watch")
    val out = java.nio.file.Files.createTempDirectory("graft-diff-out")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-diff-ckpt")
    val all = graft.collocations.Collocations.documents(spark, "/root/testdata/sf0.001")
    // previous snapshot: docs with doc_id%7==3 absent (so they arrive as
    // "added"), docs with doc_id%5==0 carry different text ("changed")
    val prev = all.filter(pmod(col("doc_id"), lit(7L)) =!= 3)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(5L)) === 0, concat(col("text"), lit(" OLD")))
          .otherwise(col("text")))
    DiffStream.buildBase(prev, baseDir.toString)

    val shard = all.filter(pmod(col("doc_id"), lit(3L)) === 1) // new-snapshot slice
    val tmp = java.nio.file.Files.createTempDirectory("graft-diff-stage")
    shard.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp)
      .filter(p => p.toString.endsWith(".parquet")).findFirst().get
    java.nio.file.Files.copy(part, watch.resolve("a.parquet"))

    val q = DiffStream.monitor(DedupStream.readStream(spark, watch.toString),
      baseDir.toString, out.toString, ckpt.toString)
    q.processAllAvailable(); q.stop()

    val streamed = DiffStream.deltaLog(spark, out.toString)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    // the batch diff over (prev, full new snapshot), restricted to this
    // shard's doc_ids and to the per-shard-visible statuses, must agree
    val batchExpected = CorpusDiff.diff(prev, all).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
      .filter { case (id, st) => id % 3 == 1 && st != "removed" }
    assert(streamed == batchExpected, s"stream=$streamed batch=$batchExpected")
    assert(streamed.values.toSet == Set("added", "changed"))
    Seq(baseDir, watch, out, ckpt, tmp).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(p.toFile))
  }

  test("streaming quality gate scores shards exactly like the batch scorer") {
    import graft.streaming.{DedupStream, QualityStream}
    import graft.text.QualityClassifier
    val modelDir = java.nio.file.Files.createTempDirectory("graft-qc-model")
    val watch = java.nio.file.Files.createTempDirectory("graft-qc-watch")
    val out = java.nio.file.Files.createTempDirectory("graft-qc-out")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-qc-ckpt")
    val all = graft.collocations.Collocations.documents(spark, "/root/testdata/sf0.001")
    val w = QualityStream.buildModel(all, modelDir.toString)
    assert(QualityStream.readModel(spark, modelDir.toString).count() == 1,
      "model table must be one row")

    val shard = all.filter(pmod(col("doc_id"), lit(4L)) === 1)
    val tmp = java.nio.file.Files.createTempDirectory("graft-qc-stage")
    shard.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp)
      .filter(p => p.toString.endsWith(".parquet")).findFirst().get
    java.nio.file.Files.copy(part, watch.resolve("a.parquet"))

    val q = QualityStream.gate(DedupStream.readStream(spark, watch.toString),
      modelDir.toString, out.toString, ckpt.toString)
    q.processAllAvailable(); q.stop()

    val streamed = QualityStream.scoreLog(spark, out.toString)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    val direct = QualityClassifier.scoreWith(QualityClassifier.features(shard), w)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(streamed == direct,
      "stream-logged scores must equal the literal-weight batch scorer on the same shard")
    assert(streamed.nonEmpty)
    Seq(modelDir, watch, out, ckpt, tmp).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(p.toFile))
  }

  test("drift reference grid keeps empty bins: a shard landing past collapsed edges still counts") {
    import graft.streaming.DriftStream
    import spark.implicits._
    val refDir = java.nio.file.Files.createTempDirectory("graft-grid-ref")
    // CONSTANT reference column: every quantile edge collapses to 7.0,
    // so only bin 0 has reference mass — bins 1..9 exist only because
    // buildReference writes the full grid (the pre-fix table dropped
    // them, and any shard mass beyond the edges vanished from n_rows
    // and contributed no PSI term)
    val ref = (1L to 40L).map(i => (i, 7.0)).toDF("doc_id", "x")
    DriftStream.buildReference(ref, "x", refDir.toString, nBins = 10, exact = true)
    val bins = DriftStream.refBins(spark, refDir.toString).collect()
      .map(r => r.getAs[Long]("bin") -> r.getAs[Double]("pr")).toMap
    assert(bins.keySet == (0L to 9L).toSet, s"full grid required: ${bins.keySet}")
    assert(bins(0L) == 1.0 && (1L to 9L).forall(b => bins(b) == 0.0))
    // a delivery entirely ABOVE the collapsed edges lands in bin 9
    val shard = (1L to 20L).map(i => (i, 99.0)).toDF("doc_id", "x")
    val r = DriftStream.psiBatch(shard, "x",
      DriftStream.edges(spark, refDir.toString),
      DriftStream.refBins(spark, refDir.toString)).collect().head
    assert(r.getAs[Long]("n_rows") == 20L,
      "shard mass in a reference-empty bin must be counted, not dropped")
    // all batch mass sits where the reference has (clamped) eps weight:
    // PSI must read catastrophic, not calm
    assert(r.getAs[Double]("psi") > 5.0, s"psi: ${r.getAs[Double]("psi")}")
    org.apache.commons.io.FileUtils.deleteDirectory(refDir.toFile)
  }

  test("streaming embedding-drift monitor flags a scaled delivery and passes an in-distribution one") {
    import graft.streaming.EmbDriftStream
    import graft.similarity.Pca
    val modelDir = java.nio.file.Files.createTempDirectory("graft-edrift-model")
    val refDir = java.nio.file.Files.createTempDirectory("graft-edrift-ref")
    val watch = java.nio.file.Files.createTempDirectory("graft-edrift-watch")
    val out = java.nio.file.Files.createTempDirectory("graft-edrift-out")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-edrift-ckpt")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    Pca.writePcaModel(emb, modelDir.toString, k = 4, trainStride = 1)
    val model = Pca.readPcaModel(spark, modelDir.toString)
    EmbDriftStream.buildReference(emb, model, refDir.toString, nBins = 10)
    assert(EmbDriftStream.refBins(spark, refDir.toString).count() <= 40,
      "reference bin table must be metadata-sized (k x nBins)")

    def dropDf(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-edrift-stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get
      java.nio.file.Files.copy(part, watch.resolve(name))
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
    val inShard = emb.filter(pmod(col("vec_id"), lit(3L)) === 0)
    dropDf(inShard, "a.parquet")
    val stream = spark.readStream
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
      .option("maxFilesPerTrigger", "1").parquet(watch.toString)
    val q = EmbDriftStream.monitor(stream, modelDir.toString, refDir.toString,
      out.toString, ckpt.toString)
    q.processAllAvailable()
    // delivery 2: the same vectors scaled 4x — projections blow past the
    // reference edges, mass piles into the extreme bins on every axis
    dropDf(inShard.withColumn("embedding",
      transform(col("embedding"), e => e * lit(4.0f))), "b.parquet")
    q.processAllAvailable(); q.stop()

    val log = EmbDriftStream.driftLog(spark, out.toString)
      .collect().map(r => (r.getAs[Number]("ingest_batch").longValue, r.getAs[Int]("pc")) ->
        (r.getAs[Long]("n_rows"), r.getAs[Double]("psi"))).toMap
    assert(log.keySet == (for (b <- 0 to 1; pc <- 0 to 3) yield (b.toLong, pc)).toSet,
      s"k psi rows per delivery: ${log.keySet}")
    val inMax = (0 to 3).map(pc => log((0L, pc))._2).max
    val shiftMax = (0 to 3).map(pc => log((1L, pc))._2).max
    assert(shiftMax > 1.0, s"scaled delivery must flag hard: $shiftMax")
    assert(inMax < 0.5 && inMax < shiftMax / 4,
      s"in-distribution subset must score far below the scaled one: $inMax vs $shiftMax")
    // the logged rows ARE the batch scorer's output — same code path
    val direct = EmbDriftStream.psiBatch(inShard, model,
      EmbDriftStream.edges(spark, refDir.toString),
      EmbDriftStream.refBins(spark, refDir.toString))
      .collect().map(r => r.getAs[Int]("pc") ->
        (r.getAs[Long]("n_rows"), r.getAs[Double]("psi"))).toMap
    (0 to 3).foreach(pc => assert(direct(pc) == log((0L, pc)),
      s"stream-logged pc$pc must equal the direct batch scorer"))
    Seq(modelDir, refDir, watch, out, ckpt).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(p.toFile))
  }

  test("streaming KN perplexity gate matches the batch serve path and flags zero-coverage text") {
    import graft.streaming.{DedupStream, LmStream}
    val modelDir = java.nio.file.Files.createTempDirectory("graft-lm-model")
    val watch = java.nio.file.Files.createTempDirectory("graft-lm-watch")
    val out = java.nio.file.Files.createTempDirectory("graft-lm-out")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-lm-ckpt")
    val all = graft.collocations.Collocations.documents(spark, "/root/testdata/sf0.001")
    LmStream.buildModel(all, modelDir.toString)

    // shard = real docs (model trained on the full corpus, so every
    // real bigram is seen) + one injected doc whose tokens the corpus
    // never contains (zero coverage — the worst case a fluency gate
    // must flag rather than drop) + one injected doc that is REAL text
    // followed by a long unseen tail: its seen-bigram average looks
    // fluent, so only the coverage gate can catch it
    import spark.implicits._
    val sampleText = all.orderBy("doc_id").select("text").head.getString(0)
    val partial = sampleText +
      (" zzqx vvkj" * (sampleText.split("\\s+").length * 3))
    val shard = all.filter(pmod(col("doc_id"), lit(4L)) === 2)
      .select("doc_id", "text", "lang")
      .union(Seq((999999L, "zzqx vvkj zzqx vvkj zzqx", "en"),
        (999998L, partial, "en")).toDF("doc_id", "text", "lang"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-lm-stage")
    shard.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp)
      .filter(p => p.toString.endsWith(".parquet")).findFirst().get
    java.nio.file.Files.copy(part, watch.resolve("a.parquet"))

    // lp threshold below every real score, so ONLY coverage can flag
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_total_bigrams"), r.getAs[Long]("n_bigrams"),
          r.getAs[Double]("coverage"),
          Option(r.get(r.fieldIndex("avg_logprob"))).map(_.asInstanceOf[Double]),
          r.getAs[Boolean]("low_fluency")))).toMap
    val direct = rowsOf(LmStream.scoreBatch(shard, modelDir.toString, minLp = -1e9))
    assert(direct(999999L)._2 == 0L && direct(999999L)._3 == 0.0 && direct(999999L)._5,
      "unseen-vocabulary text must read zero coverage and flag")
    // the evasion case: fluent seen bigrams (non-null, corpus-level avg)
    // but most of the document is unseen — only the coverage gate fires
    assert(direct(999998L)._4.isDefined && direct(999998L)._3 < 0.5 && direct(999998L)._5,
      s"partial-coverage text must flag on coverage alone: ${direct(999998L)}")
    // real corpus docs: every bigram seen, full coverage, pass
    assert(direct.filterNot(kv => kv._1 >= 999998L).values
      .forall(v => v._3 == 1.0 && !v._5),
      "model-corpus documents must read full coverage and pass")

    val q = LmStream.monitor(DedupStream.readStream(spark, watch.toString),
      modelDir.toString, out.toString, ckpt.toString, minLp = -1e9)
    q.processAllAvailable(); q.stop()

    val streamed = rowsOf(LmStream.scoreLog(spark, out.toString))
    assert(streamed == direct,
      "stream-logged KN scores must equal the batch serve path on the same shard")
    assert(streamed.count(_._2._5) == 2,
      "exactly the zero- and partial-coverage documents flag at a below-corpus threshold")
    Seq(modelDir, watch, out, ckpt, tmp).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(p.toFile))
  }

  test("streaming tokenizer monitor matches the batch serve path and flags gibberish") {
    import graft.streaming.{DedupStream, TokenizerStream}
    import graft.text.TextAnalysis
    val modelDir = java.nio.file.Files.createTempDirectory("graft-tok-model")
    val watch = java.nio.file.Files.createTempDirectory("graft-tok-watch")
    val out = java.nio.file.Files.createTempDirectory("graft-tok-out")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-tok-ckpt")
    val all = graft.collocations.Collocations.documents(spark, "/root/testdata/sf0.001")
    TokenizerStream.buildModel(all, modelDir.toString, vocabSize = 40)
    val model = TextAnalysis.readUnigramModel(spark, modelDir.toString)
    assert(model.nonEmpty)

    // shard = real docs + one injected gibberish doc of codepoints the
    // corpus never contains (each segments as a solo UNK piece, so its
    // pieces_per_word pins at the per-codepoint ceiling)
    import spark.implicits._
    val shard = all.filter(pmod(col("doc_id"), lit(4L)) === 1)
      .select("doc_id", "text", "lang")
      .union(Seq((999999L, "ñüñüñüñü ñüñüñü ñüñüñüñ", "en")).toDF("doc_id", "text", "lang"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-tok-stage")
    shard.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp)
      .filter(p => p.toString.endsWith(".parquet")).findFirst().get
    java.nio.file.Files.copy(part, watch.resolve("a.parquet"))

    // calibrate the gate from the batch serve path: midway between the
    // median real document and the gibberish doc's per-codepoint ppw
    val direct = TextAnalysis.tokenizeUnigramWith(shard, model)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_unigram_tokens"), r.getAs[Double]("pieces_per_word")))).toMap
    val realPpw = direct.collect { case (id, (_, p)) if id != 999999L => p }.toSeq.sorted
    val med = realPpw(realPpw.size / 2)
    val gib = direct(999999L)._2
    assert(gib > med, "unsegmentable text must read above the median real doc")
    val maxPpw = (med + gib) / 2

    val q = TokenizerStream.monitor(DedupStream.readStream(spark, watch.toString),
      modelDir.toString, out.toString, ckpt.toString, maxPpw = maxPpw)
    q.processAllAvailable(); q.stop()

    val streamed = TokenizerStream.tokenLog(spark, out.toString)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_unigram_tokens"), r.getAs[Boolean]("gibberish")))).toMap
    assert(streamed.view.mapValues(_._1).toMap == direct.view.mapValues(_._1).toMap,
      "stream-logged token counts must equal the batch serve path on the same shard")
    assert(streamed(999999L)._2, "unsegmentable text must flag as gibberish")
    assert(streamed.count(_._2._2) < streamed.size / 2,
      "real corpus documents must mostly pass the gate")
    Seq(modelDir, watch, out, ckpt, tmp).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(p.toFile))
  }

  test("streaming image/audio/video ingest gates flag arrivals exactly as the batch gate") {
    import graft.streaming.{DedupStream, MultimodalDedupStream}
    import graft.dedup.Dedup
    val all = graft.collocations.Collocations.documents(spark, "/root/testdata/sf0.001")
    val even = all.filter(pmod(col("doc_id"), lit(2L)) === 0)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(2))
    def drop(watch: java.nio.file.Path, name: String, shard: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-mm-stage")
      shard.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get
      java.nio.file.Files.copy(part, watch.resolve(name))
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
    // one harness, both modalities: static even-half index, two odd
    // "arrival" shards, accumulated stream flags vs the batch gate
    def run(label: String,
            writeIndex: (org.apache.spark.sql.DataFrame, String) => Unit,
            table: String,
            start: (org.apache.spark.sql.DataFrame, String, String, String) => org.apache.spark.sql.streaming.StreamingQuery,
            gateBatch: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame): Unit = {
      val idx = java.nio.file.Files.createTempDirectory(s"graft-$label-gate-idx")
      val watch = java.nio.file.Files.createTempDirectory(s"graft-$label-gate-watch")
      val out = java.nio.file.Files.createTempDirectory(s"graft-$label-gate-out")
      val ckpt = java.nio.file.Files.createTempDirectory(s"graft-$label-gate-ckpt")
      writeIndex(even, idx.toString)
      val indexDir = s"$idx/$table"
      drop(watch, "a.parquet", all.filter(pmod(col("doc_id"), lit(4L)) === 1))
      val q = start(DedupStream.readStream(spark, watch.toString), indexDir, out.toString, ckpt.toString)
      q.processAllAvailable()
      val idxDf = spark.read.parquet(indexDir)
      val after1 = MultimodalDedupStream.flagged(spark, out.toString).collect().map(key).toSet
      val batch1 = gateBatch(all.filter(pmod(col("doc_id"), lit(4L)) === 1), idxDf)
        .collect().map(key).toSet
      assert(after1 == batch1, s"$label drop 1: stream flags must equal the batch gate")
      drop(watch, "b.parquet", all.filter(pmod(col("doc_id"), lit(4L)) === 3))
      q.processAllAvailable(); q.stop()
      val after2 = MultimodalDedupStream.flagged(spark, out.toString).collect().map(key).toSet
      val batchAll = gateBatch(all.filter(pmod(col("doc_id"), lit(2L)) === 1), idxDf)
        .collect().map(key).toSet
      assert(after2 == batchAll,
        s"$label drops 1+2: accumulated stream flags must equal the batch gate on all arrivals")
      assert(after2.nonEmpty, s"$label: the sf0.001 corpus has cross-parity near-dups; empty = broken join")
      // the gate decodes ONLY the arriving shard: exactly one
      // partition-parallel decode (the fresh side); the index side must
      // stay a parquet scan of the persisted fingerprints
      val p = gateBatch(all.filter(pmod(col("doc_id"), lit(4L)) === 1), idxDf)
        .queryExecution.executedPlan.toString
      assert("MapPartitions".r.findAllIn(p).size == 1,
        s"$label gate must decode only the arriving shard:\n$p")
      assert(p.contains(s"graft-$label-gate-idx"), s"$label gate must scan the persisted index:\n$p")
      Seq(idx, watch, out, ckpt).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
    }
    graft.multimodal.Modality.all.foreach(m =>
      run(m.name, (docs, dir) => Dedup.writeFingerprintIndex(m, docs, dir), m.table,
        (s, i, o, c) => MultimodalDedupStream.gate(m, s, i, o, c),
        (b, i) => MultimodalDedupStream.gateBatch(m, b, i)))
  }

  test("streaming semantic ingest gate flags arrivals exactly as the batch gate") {
    import graft.streaming.SemanticDedupStream
    import graft.dedup.Dedup
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = java.nio.file.Files.createTempDirectory("graft-semgate-idx")
    val watch = java.nio.file.Files.createTempDirectory("graft-semgate-watch")
    val out = java.nio.file.Files.createTempDirectory("graft-semgate-out")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-semgate-ckpt")
    Dedup.writeSemanticGateIndex(emb.filter(pmod(col("vec_id"), lit(2L)) === 0),
      idx.toString, nClusters = 4, iters = 2, minCos = 0.4)
    def drop(name: String, shard: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-semgate-stage")
      shard.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get
      java.nio.file.Files.copy(part, watch.resolve(name))
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
    drop("a.parquet", emb.filter(pmod(col("vec_id"), lit(4L)) === 1))
    drop("b.parquet", emb.filter(pmod(col("vec_id"), lit(4L)) === 3))
    val q = SemanticDedupStream.gate(
      SemanticDedupStream.readStream(spark, watch.toString),
      idx.toString, out.toString, ckpt.toString, minCos = 0.4)
    q.processAllAvailable(); q.stop()
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    val streamed = SemanticDedupStream.flagged(spark, out.toString).collect().map(key).toSet
    val cents = graft.similarity.Ann.readIvfModel(spark, s"$idx/centroids")
    val batch = SemanticDedupStream.gateBatch(
        emb.filter(pmod(col("vec_id"), lit(2L)) === 1),
        spark.read.parquet(s"$idx/kept"), cents, minCos = 0.4)
      .collect().map(key).toSet
    assert(streamed == batch,
      "accumulated stream flags must equal the batch gate on all arrivals")
    assert(streamed.nonEmpty, "the sf0.001 embeddings have cross-parity semantic near-dups")
    // the serve plan joins the persisted kept table — it never
    // re-clusters (no Lloyd iteration appears anywhere in a gate batch:
    // the centroids enter as literals from the tiny model read)
    val p = SemanticDedupStream.gateBatch(
        emb.filter(pmod(col("vec_id"), lit(4L)) === 1),
        spark.read.parquet(s"$idx/kept"), cents, minCos = 0.4)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft-semgate-idx"), s"gate must scan the persisted kept table:\n$p")
    Seq(idx, watch, out, ckpt).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
  }

  test("streaming semantic decon gate flags paraphrase arrivals exactly as the batch serve twin") {
    import spark.implicits._
    import graft.streaming.{SemanticDeconStream, SemanticDedupStream}
    import graft.dedup.Dedup
    // two orthogonal benchmark topics; arrivals: one neighbor of each
    // (split across two shards) plus a clean vector per shard
    def groupVec(g: Int, eps: Float): Array[Float] = {
      val v = new Array[Float](64)
      (g * 10 until g * 10 + 10).foreach(j => v(j) = 1f)
      v(g * 10) += eps
      v
    }
    val bench = Seq((10L, groupVec(0, 0f)), (20L, groupVec(1, 0f)))
      .toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("graft-semdecon-idx")
    val watch = java.nio.file.Files.createTempDirectory("graft-semdecon-watch")
    val out = java.nio.file.Files.createTempDirectory("graft-semdecon-out")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-semdecon-ckpt")
    Dedup.writeSemanticDeconIndex(bench, idx.toString, nClusters = 2, iters = 2)
    def drop(name: String, shard: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-semdecon-stage")
      shard.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get
      java.nio.file.Files.copy(part, watch.resolve(name))
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
    val clean = Array.tabulate(64)(j => if (j >= 30 && j < 40) 1f else 0f)
    val shard1 = Seq((11L, groupVec(0, 0.01f)), (35L, clean)).toDF("vec_id", "embedding")
    val shard2 = Seq((21L, groupVec(1, 0.01f)), (36L, clean)).toDF("vec_id", "embedding")
    drop("a.parquet", shard1); drop("b.parquet", shard2)
    val q = SemanticDeconStream.gate(
      SemanticDedupStream.readStream(spark, watch.toString),
      idx.toString, out.toString, ckpt.toString, minCos = 0.9)
    q.processAllAvailable(); q.stop()
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    val streamed = SemanticDeconStream.flagged(spark, out.toString).collect().map(key).toSet
    // batch serve twin: the SAME persisted index, all arrivals at once
    val cents = graft.similarity.Ann.readIvfModel(spark, s"$idx/centroids")
    val batch = Dedup.semanticDeconMatches(
        shard1.unionByName(shard2), spark.read.parquet(s"$idx/bench"), cents, minCos = 0.9)
      .collect().map(key).toSet
    assert(streamed == batch, "accumulated stream flags must equal the batch serve twin")
    assert(streamed.map(t => (t._1, t._2)) == Set((11L, 10L), (21L, 20L)),
      s"exactly the planted paraphrase neighbors flag: $streamed")
    Seq(idx, watch, out, ckpt).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
  }

  test("streaming lang-ID gate scores each shard under the model served at its arrival") {
    import graft.streaming.{DedupStream, LangIdStream}
    val docs = graft.collocations.Collocations.documents(spark, "/root/testdata/sf0.001")
    val model = java.nio.file.Files.createTempDirectory("graft-langid-gate-model")
    val watch = java.nio.file.Files.createTempDirectory("graft-langid-gate-watch")
    val out = java.nio.file.Files.createTempDirectory("graft-langid-gate-out")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-langid-gate-ckpt")
    val m1 = LangIdStream.buildModel(docs, model.toString, vocabSize = 64)
    def drop(name: String, shard: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-langid-gate-stage")
      shard.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get
      java.nio.file.Files.copy(part, watch.resolve(name))
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
    val shard1 = docs.filter(pmod(col("doc_id"), lit(4L)) === 1)
    val shard2 = docs.filter(pmod(col("doc_id"), lit(4L)) === 3)
    drop("a.parquet", shard1)
    val q = LangIdStream.gate(DedupStream.readStream(spark, watch.toString),
      model.toString, out.toString, ckpt.toString)
    q.processAllAvailable()
    // mid-stream retrain: a different model (smaller vocab -> different
    // weight sums) republished under the SAME serving path via
    // publishSwap — the running query must pick it up on the next batch
    val m2 = LangIdStream.buildModel(docs, model.toString, vocabSize = 16)
    assert(m2 != m1, "the refreshed model must differ or the pin proves nothing")
    drop("b.parquet", shard2)
    q.processAllAvailable(); q.stop()
    def key(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("doc_id", "lang", "lang_pred", "score")
        .collect().map(_.mkString("|")).toSet
    val scores = spark.read.parquet(s"$out/scores")
    val streamed1 = key(scores.filter(col("ingest_batch") === 0))
    val streamed2 = key(scores.filter(col("ingest_batch") === 1))
    // each shard scored under the model SERVED at its arrival time
    assert(streamed1 == key(LangIdStream.scoreBatch(shard1, m1)),
      "shard 1 must score under the original model")
    assert(streamed2 == key(LangIdStream.scoreBatch(shard2, m2)),
      "shard 2 must score under the refreshed model")
    assert(streamed2 != key(LangIdStream.scoreBatch(shard2, m1)),
      "the refresh must be visible in shard 2's scores")
    // the per-batch drift table is the confusion of exactly that shard
    def ckey(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("lang", "lang_pred", "n").collect().map(_.mkString("|")).toSet
    val drift = LangIdStream.driftLog(spark, out.toString)
    assert(ckey(drift.filter(col("ingest_batch") === 0)) ==
      ckey(graft.text.LangIdClassifier.confusionWith(shard1, m1)))
    assert(ckey(drift.filter(col("ingest_batch") === 1)) ==
      ckey(graft.text.LangIdClassifier.confusionWith(shard2, m2)))
    Seq(model, watch, out, ckpt).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
  }

  test("streaming pretrain ingest gate audits arrivals exactly as the batch gate twin") {
    import graft.streaming.{PretrainStream, QualityStream}
    val docs = graft.collocations.Collocations.documents(spark, "/root/testdata/sf0.001")
    val pages = docs.select(col("doc_id"), col("source"), col("lang"),
      graft.pipelines.PretrainCorpus.dirtyPageV2.as("text"))
    val idx = java.nio.file.Files.createTempDirectory("graft-ppgate-idx")
    val langModelDir = java.nio.file.Files.createTempDirectory("graft-ppgate-langm")
    val mmIdx = java.nio.file.Files.createTempDirectory("graft-ppgate-mmidx")
    val model = java.nio.file.Files.createTempDirectory("graft-ppgate-model")
    val watch = java.nio.file.Files.createTempDirectory("graft-ppgate-watch")
    val out = java.nio.file.Files.createTempDirectory("graft-ppgate-out")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ppgate-ckpt")
    PretrainStream.writeGateIndex(pages, idx.toString,
      benchPred = col("source") === "src0",
      corpusPred = pmod(col("doc_id"), lit(2L)) === 0 && col("source") =!= "src0")
    // modality fingerprint indexes over the even half's RAW records —
    // payloads ride the raw record, untouched by the page-text dirtying
    val evenRaw = docs.filter(pmod(col("doc_id"), lit(2L)) === 0)
    graft.multimodal.Modality.all.foreach(m =>
      graft.dedup.Dedup.writeFingerprintIndex(m, evenRaw, s"$mmIdx/${m.name}"))
    def fpIdxDir(m: graft.multimodal.Modality): String = s"$mmIdx/${m.name}/${m.bandedTable}"
    // semantic-decon benchmark index over the embedding table's
    // benchmark tenth (the decontaminate_semantic_indexed artifact)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val semIdx = java.nio.file.Files.createTempDirectory("graft-ppgate-semidx")
    graft.dedup.Dedup.writeSemanticDeconIndex(
      emb.filter(pmod(col("vec_id"), lit(10L)) === 0), semIdx.toString,
      nClusters = 8, iters = 2, trainStride = 1)
    val semCents = graft.similarity.Ann.readIvfModel(spark, s"$semIdx/centroids")
    // SemDeDup ingest-gate index over the embedding table's even half
    // (the dedup_semantic_stream_gate artifact) — the sem-dup gate's
    // kept representatives + centroids
    val semGateIdx = java.nio.file.Files.createTempDirectory("graft-ppgate-semgidx")
    graft.dedup.Dedup.writeSemanticGateIndex(
      emb.filter(pmod(col("vec_id"), lit(2L)) === 0), semGateIdx.toString,
      nClusters = 8, iters = 2, minCos = 0.4, trainStride = 1)
    val semDupCents = graft.similarity.Ann.readIvfModel(spark, s"$semGateIdx/centroids")
    val w = QualityStream.buildModel(docs, model.toString)
    val lm = graft.text.LangIdClassifier.train(docs)
    graft.text.LangIdClassifier.writeModel(lm, langModelDir.toString, spark)
    def drop(name: String, shard: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-ppgate-stage")
      shard.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get
      java.nio.file.Files.copy(part, watch.resolve(name))
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
    val arrivals = pages.filter(pmod(col("doc_id"), lit(2L)) === 1 && col("source") =!= "src0")
    // a multimodal arrival record = dirty page text + its payload side +
    // its precomputed embedding (vec_id = doc_id)
    val shardCols = arrivals
      .withColumn("n_chars", length(col("text")).cast("long"))
      .join(docs.select(col("doc_id"), col("text").as("payload_text")), Seq("doc_id"))
      .join(emb.select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"), "left")
      .select("doc_id", "text", "lang", "source", "n_chars", "payload_text", "embedding")
    drop("a.parquet", shardCols.filter(pmod(col("doc_id"), lit(4L)) === 1))
    drop("b.parquet", shardCols.filter(pmod(col("doc_id"), lit(4L)) === 3))
    val q = PretrainStream.gate(PretrainStream.readGateStream(spark, watch.toString),
      model.toString, langModelDir.toString, thr = 0.28, gateIndexDir = idx.toString,
      fpIdxDir = fpIdxDir, semIdxDir = semIdx.toString,
      semGateIdxDir = semGateIdx.toString,
      outDir = out.toString, checkpoint = ckpt.toString)
    q.processAllAvailable(); q.stop()
    val cols = Seq("doc_id", "source", "score", "quality_pass", "decon_flag",
      "dup_flag", "dup_match_id", "dup_jaccard",
      "image_dup_flag", "image_match_id", "image_hamming",
      "audio_dup_flag", "audio_match_id", "audio_hamming",
      "video_dup_flag", "video_match_id", "video_hamming",
      "sem_decon_flag", "sem_match_id", "sem_cos",
      "sem_dup_flag", "sem_dup_match_id", "sem_dup_cos",
      "lang_pred", "lang_ok", "keep")
    def key(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(cols.map(col): _*).collect().map(_.mkString("|")).toSet
    val streamed = key(PretrainStream.auditLog(spark, out.toString))
    val batch = PretrainStream.gateBatch(arrivals,
      docs.filter(pmod(col("doc_id"), lit(2L)) === 1 && col("source") =!= "src0")
        .select("doc_id", "text"),
      w, 0.28, lm,
      spark.read.parquet(s"$idx/boilerplate"),
      spark.read.parquet(s"$idx/anchors"), spark.read.parquet(s"$idx/bench"),
      spark.read.parquet(s"$idx/dedup/minhash_buckets"),
      spark.read.parquet(s"$idx/dedup/shingle_sets"),
      m => spark.read.parquet(fpIdxDir(m)),
      emb.join(arrivals.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi"),
      spark.read.parquet(s"$semIdx/bench"), semCents,
      spark.read.parquet(s"$semGateIdx/kept"), semDupCents)
    assert(streamed == key(batch),
      "accumulated stream audit rows must equal the batch gate twin on all arrivals")
    // the gate's audited modality set IS the shared constant the v4
    // ladder builds against (PipelineOpsSpec pins the other half)
    // (sem_dup_flag is the EMBEDDING gate, not a perceptual fingerprint
    // modality — the v4 ladder's fingerprint stages are the trio)
    val gateMods = batch.schema.fieldNames.filter(_.endsWith("_dup_flag"))
      .map(_.stripSuffix("_dup_flag")).toSet - "sem"
    assert(gateMods == graft.multimodal.Modality.all.map(_.name).toSet,
      s"gate audit modalities $gateMods must equal Modality.all")
    val rows = batch.collect()
    // every gate is LIVE on the planted page fixture: the 7/8 pair docs
    // straddle the parity split (dup), doc 11 carries the leak line
    // (decon), and the keep column composes
    assert(rows.exists(_.getAs[Int]("dup_flag") == 1), "a planted cross-parity pair must dup-flag")
    assert(rows.exists(_.getAs[Int]("decon_flag") == 1), "the planted leak doc must decon-flag")
    assert(rows.exists(_.getAs[Int]("keep") == 1), "clean arrivals must be admitted")
    // the keep column composes over the multimodal flags: any
    // modality-flagged arrival must be rejected
    rows.filter(r => r.getAs[Int]("image_dup_flag") == 1 ||
        r.getAs[Int]("audio_dup_flag") == 1 || r.getAs[Int]("video_dup_flag") == 1)
      .foreach(r => assert(r.getAs[Int]("keep") == 0,
        s"modality-flagged arrival must not be admitted: $r"))
    // the language gate is LIVE (the 5-language corpus mispredicts some
    // declared labels under the trained model) and folds into keep
    assert(rows.exists(_.getAs[Int]("lang_ok") == 0) &&
      rows.exists(_.getAs[Int]("lang_ok") == 1),
      "the language gate must be live on the fixture")
    rows.filter(_.getAs[Int]("lang_ok") == 0)
      .foreach(r => assert(r.getAs[Int]("keep") == 0,
        s"lang-mismatched arrival must not be admitted: $r"))
    // the semantic decon gate folds into keep, and its audit columns
    // agree with the standalone SemanticDeconStream algebra over the
    // same arrivals + persisted index
    rows.filter(_.getAs[Int]("sem_decon_flag") == 1)
      .foreach(r => assert(r.getAs[Int]("keep") == 0,
        s"semantically contaminated arrival must not be admitted: $r"))
    val semStandalone = graft.streaming.SemanticDeconStream.gateBatch(
        emb.join(arrivals.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi"),
        spark.read.parquet(s"$semIdx/bench"), semCents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val semComposed = rows.filter(_.getAs[Int]("sem_decon_flag") == 1)
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("sem_match_id"),
        r.getAs[Double]("sem_cos"))).toSet
    assert(semComposed == semStandalone,
      "composed sem audit must equal the standalone semantic decon gate")
    // the semantic DUP gate folds into keep, and its audit columns agree
    // with the standalone SemanticDedupStream algebra over the same
    // arrivals + persisted gate index
    rows.filter(_.getAs[Int]("sem_dup_flag") == 1)
      .foreach(r => assert(r.getAs[Int]("keep") == 0,
        s"semantic near-dup arrival must not be admitted: $r"))
    val semDupStandalone = graft.streaming.SemanticDedupStream.gateBatch(
        emb.join(arrivals.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi"),
        spark.read.parquet(s"$semGateIdx/kept"), semDupCents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val semDupComposed = rows.filter(_.getAs[Int]("sem_dup_flag") == 1)
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("sem_dup_match_id"),
        r.getAs[Double]("sem_dup_cos"))).toSet
    assert(semDupComposed == semDupStandalone,
      "composed sem-dup audit must equal the standalone SemDeDup gate")
    // the serve side is index-only: the gate plan scans the persisted
    // tables, never the corpus the index was built from
    val p = batch.queryExecution.executedPlan.toString
    assert(p.contains("graft-ppgate-idx"), s"gate must scan the persisted index:\n$p")
    assert(p.contains("graft-ppgate-mmidx"),
      s"gate must scan the persisted modality fingerprint indexes:\n$p")
    batch.unpersist()
    Seq(idx, mmIdx, semIdx, semGateIdx, model, watch, out, ckpt).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
  }

  test("streaming multimodal index ingest equals a full rebuild and replays idempotently") {
    import graft.streaming.{DedupStream, MultimodalDedupStream}
    val all = graft.collocations.Collocations.documents(spark, "/root/testdata/sf0.001")
    val watch = java.nio.file.Files.createTempDirectory("graft-mmidx-watch")
    val idx = java.nio.file.Files.createTempDirectory("graft-mmidx-idx")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-mmidx-ckpt")
    def drop(name: String, parity: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-mmidx-stage")
      all.filter(pmod(col("doc_id"), lit(3L)) === parity)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get
      java.nio.file.Files.copy(part, watch.resolve(name))
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
    def fullRebuild = graft.multimodal.Multimodal.audioFingerprint(all).toDF()
      .filter(col("valid")).select("doc_id", "afp")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    drop("a.parquet", 0L); drop("b.parquet", 1L); drop("c.parquet", 2L)
    val q = MultimodalDedupStream.ingest(graft.multimodal.Modality.Audio,
      DedupStream.readStream(spark, watch.toString), idx.toString, ckpt.toString)
    q.processAllAvailable(); q.stop()
    val streamed = MultimodalDedupStream.fps(spark, s"$idx/audio_fp")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == fullRebuild,
      "streamed fingerprint index must equal the from-scratch rebuild — no doc re-decoded twice")
    // the streamed index feeds the batch serve path unchanged
    val pairs = graft.dedup.Dedup.fingerprintPairsFrom(graft.multimodal.Modality.Audio,
      MultimodalDedupStream.fps(spark, s"$idx/audio_fp"))
    assert(pairs.count() ==
      graft.dedup.Dedup.fingerprintPairs(graft.multimodal.Modality.Audio, all).count(),
      "pairs served from the streamed index must equal the direct path")
    // replay idempotence: a fresh checkpoint re-processes every shard
    // (the restart-after-checkpoint-loss case) — dynamic partition
    // overwrite must replace the ingest_batch partitions, not duplicate
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft-mmidx-ckpt2")
    val q2 = MultimodalDedupStream.ingest(graft.multimodal.Modality.Audio,
      DedupStream.readStream(spark, watch.toString), idx.toString, ckpt2.toString)
    q2.processAllAvailable(); q2.stop()
    val replayed = MultimodalDedupStream.fps(spark, s"$idx/audio_fp")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(replayed == fullRebuild, "replaying every batch must leave the index unchanged")
    assert(MultimodalDedupStream.fps(spark, s"$idx/audio_fp")
      .groupBy("doc_id").count().filter(col("count") > 1).isEmpty,
      "replay must not duplicate fingerprint rows")
    Seq(watch, idx, ckpt, ckpt2).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
  }
}
