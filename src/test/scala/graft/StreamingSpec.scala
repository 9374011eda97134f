package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{FlowStream, Sessionize}
import graft.streaming.Sessionize.Ev

class StreamingSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()

  test("streaming proportional_sum equals the batch result") {
    val sf = "/root/testdata/sf0.001"
    val streamed = queries.FlowQueries.queries("st01_prop_sum_stream")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = queries.FlowQueries.queries("q01_prop_sum_basic")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("a second st04 run compiles no class (each run's cloned session shares the codegen cache)") {
    val sf = "/root/testdata/sf0.001"
    val run = () => queries.IngestQueries.queries("st04_netflow_pipeline")(spark, sf).collect()
    assert(run().nonEmpty)
    assert(Jobs.compiled(run()) == 0)
  }

  test("st03b: watermarked dedup answers exactly st03 while its state store stays bounded") {
    val sf = "/root/testdata/sf0.001"
    val (out03, state03) =
      FlowStream.streamingDedupCountsWithState(spark, sf, "st03_state_probe")
    val (out03b, state03b) =
      FlowStream.streamingDedupBoundedWithState(spark, sf, "st03b_state_probe")
    // identical answers: every duplicate of a fingerprint carries the SAME
    // derived event time, so within-watermark dedup == global dedup
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("n_distinct"))).toSet
    assert(rows(out03) == rows(out03b) && rows(out03).nonEmpty)
    // the bound: st03's dropDuplicates store holds EVERY distinct
    // fingerprint at end-of-stream; st03b's within-watermark store has
    // drained everything older than the final watermark — the always-on
    // collector's state is a watermark-window, not the corpus
    assert(state03 > 100, s"st03 state should hold the full fingerprint set, got $state03")
    assert(state03b * 2 < state03,
      s"watermarked dedup state ($state03b rows) must stay well under the unbounded form's ($state03)")
  }

  test("watermark + append mode emits exactly the buckets finalized below the watermark") {
    import graft.operators.ProportionalSum
    val sf = "/root/testdata/sf0.001"
    val cfg = ProportionalSum.Config(3600000L, Some(1704412800000L), Some(1706140800000L))
    // production shape: bound state by event-time watermark, emit finalized buckets
    val appended = ProportionalSum
      .explodeContrib(FlowStream.flowSource(spark, sf), col("rs"), col("re"), col("v"), None, cfg)
      .withColumn("bucket_ts", timestamp_millis(col("bucket_ms")))
      .withWatermark("bucket_ts", "2 hours")
      .groupBy(col("bucket_ts"))
      .agg(count(lit(1)).as("doc_count"), graft.functions.detsum.sumDet(col("__contrib")).as("value"))
    val q = appended.writeStream.format("memory").queryName("st01_wm")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val emitted = spark.table("st01_wm")
      .select(expr("unix_micros(bucket_ts) DIV 1000").as("bucket_ms"), col("doc_count"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = queries.FlowQueries.queries("q01_prop_sum_basic")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(emitted.subsetOf(batch), "append-mode output must be finalized batch buckets")
    // everything more than the 2h watermark below the max bucket must have been emitted
    val maxBucket = batch.map(_._1).max
    val mustEmit = batch.filter(_._1 < maxBucket - 2 * 3600000L)
    assert(mustEmit.subsetOf(emitted), s"${mustEmit.size} finalized buckets expected in ${emitted.size} emitted")
  }

  test("st07 boundary probe: eviction and late-drop are both non-strict at the watermark") {
    // Controlled MemoryStream probe (the q25b method). First batch: event
    // times 1h, 14h-1s, 14h, 16h with a 2h delay → final watermark exactly
    // 16h-2h = 14h (no rounding). Observed (and here pinned, because the
    // DuckDB oracle of st07 must encode the same boundary): the bucket AT
    // the watermark IS evicted/emitted (non-strict <=), and an arriving row
    // with event time == watermark is DROPPED as late (also non-strict), so
    // the two predicates agree and append output stays exactly-once per key.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val H = 3600000L
    val mem = MemoryStream[Long]
    val agg = mem.toDF().select(timestamp_millis(col("value")).as("bucket_ts"))
      .withWatermark("bucket_ts", "7200 seconds")
      .groupBy(col("bucket_ts"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("st07_probe")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      def emitted(): Set[(Long, Long)] = spark.table("st07_probe")
        .select(expr("unix_micros(bucket_ts) DIV 1000"), col("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

      mem.addData(1 * H, 14 * H - 1000L, 14 * H, 16 * H)
      q.processAllAvailable()
      // wm = 14h: 14h itself evicted (non-strict), 16h stays open
      assert(emitted() == Set((1 * H, 1L), ((14 * H - 1000L), 1L), (14 * H, 1L)),
        s"eviction boundary: got ${emitted()}")

      // late rows at the watermark are dropped; just above it are accepted
      mem.addData(14 * H, 14 * H + 1000L)
      q.processAllAvailable()
      val dropped = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      assert(dropped == 1L, s"exactly the ==watermark row must drop, got $dropped")

      // advancing the watermark flushes the accepted row once; the dropped
      // row never reappears (no duplicate 14h key in append output)
      mem.addData(18 * H)
      q.processAllAvailable()
      assert(emitted() == Set(
        (1 * H, 1L), ((14 * H - 1000L), 1L), (14 * H, 1L), ((14 * H + 1000L), 1L), (16 * H, 1L)),
        s"late-drop/exactly-once: got ${emitted()}")
    } finally q.stop()
  }

  test("st07 equals the batch series restricted to buckets at or below max - 2h") {
    val sf = "/root/testdata/sf0.001"
    val emitted = queries.FlowQueries.queries("st07_prop_sum_append")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = queries.FlowQueries.queries("q01_prop_sum_basic")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val cutoff = batch.map(_._1).max - 2 * 3600000L
    val expected = batch.filter(_._1 <= cutoff)
    assert(emitted == expected,
      s"emitted ${emitted.size} buckets, expected ${expected.size} (cutoff $cutoff)")
    assert(emitted.nonEmpty)
  }

  test("st20: the JSON-configured append stream is row-identical to typed st07; bad bodies loud") {
    val sf = "/root/testdata/sf0.001"
    def rows(name: String) = SparkEntry.queries(name)(spark, sf).collect()
      .map(_.toSeq.toList).toSet
    assert(rows("st20_dsl_prop_sum_stream") == rows("st07_prop_sum_append"),
      "front-door streaming diverged from the typed append collector")
    // calendar intervals and presentation knobs have no append-mode form
    intercept[IllegalArgumentException](queries.QueryDsl.streamingPropSum(queries.QueryDsl.parse(
      """{"aggs": {"h": {"proportional_sum": {"fields": ["rs","re","v"], "interval": "1M"}}}}""")))
    intercept[IllegalArgumentException](queries.QueryDsl.streamingPropSum(queries.QueryDsl.parse(
      """{"aggs": {"h": {"proportional_sum": {"fields": ["rs","re","v"], "interval": 3600000,
        |  "keyed": true}}}}""".stripMargin)))
    intercept[IllegalArgumentException](queries.QueryDsl.streamingPropSum(queries.QueryDsl.parse(
      """{"aggs": {"h": {"terms": {"field": "event_type"}}}}""")))
  }

  test("st11 equals the batch CALENDAR series restricted to buckets at or below max - 20d") {
    val sf = "/root/testdata/sf0.001"
    val emitted = queries.FlowQueries.queries("st11_prop_sum_calendar")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = queries.FlowQueries.queries("q06_prop_sum_calendar")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val cutoff = batch.map(_._1).max - 20 * 86400000L
    val expected = batch.filter(_._1 <= cutoff)
    assert(emitted == expected,
      s"emitted ${emitted.size} monthly buckets, expected ${expected.size} (cutoff $cutoff)")
    assert(emitted.nonEmpty)
  }

  test("st12: streaming index maintenance equals the batch build (frozen artifacts, any batching)") {
    val sf = "/root/testdata/sf0.001"
    queries.VecIndex.reset()
    try {
      val wantLists = queries.VecIndex.coarse(spark, sf).lists
        .collect().map(_.toString).sorted.toSeq
      val wantCodes = queries.VecIndex.pq(spark, sf).codes
        .collect().map(_.toString).sorted.toSeq
      val out = SparkEntry.queries("st12_stream_index_append")(spark, sf).collect()
      assert(out.nonEmpty && out.map(_.getLong(1)).sum == wantLists.size,
        "per-list occupancy must cover the whole corpus")
      // the maintained index is row-identical to the batch build — micro-batch
      // boundaries cannot change assignment/encoding against frozen artifacts
      assert(queries.VecIndex.coarse(spark, sf).lists.collect().map(_.toString).sorted.toSeq
        == wantLists, "streamed-in inverted lists diverge from the batch build")
      assert(queries.VecIndex.pq(spark, sf).codes.collect().map(_.toString).sorted.toSeq
        == wantCodes, "streamed-in PQ codes diverge from the batch build")
    } finally queries.VecIndex.reset() // a failure must not leak the appended index to later suites
  }

  test("st10: the streaming quantile sketch equals the batch sketch exactly") {
    val sf = "/root/testdata/sf0.001"
    val streamed = queries.FlowQueries.queries("st10_stream_quantile")(spark, sf)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    val batch = queries.Tables(spark, sf, "events")
      .groupBy(col("event_type"))
      .agg(
        expr("hist_quantile(value, 0.5, 0.0, 1000.0, 1000)").as("p50"),
        expr("hist_quantile(value, 0.95, 0.0, 1000.0, 1000)").as("p95"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("stateful sessionization emits sessions closed by a gap, keeps the open one") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = Sessionize.statefulSessions(mem.toDS(), gapMs = 1000L)
    val q = out.writeStream
      .format("memory").queryName("sessions_out")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      // session 1: two events 100ms apart; then a 5s gap opens session 2
      mem.addData(Ev(1L, 1L, 0L, 1.0), Ev(1L, 2L, 100L, 2.0))
      q.processAllAvailable()
      mem.addData(Ev(1L, 3L, 5000L, 4.0), Ev(2L, 4L, 0L, 8.0))
      q.processAllAvailable()
      val closed = spark.table("sessions_out").as[Sessionize.Session].collect().toSet
      // only user 1's first session is closed; u1-s2 and u2-s1 remain open state
      assert(closed == Set(Sessionize.Session(1L, 0L, 100L, 2L, 3.0)))
    } finally q.stop()
  }

  test("st05: IPFIX templates survive the streaming checkpoint across runs") {
    val sf = "/root/testdata/sf0.001"
    // run 1 sees ONLY template-only messages; run 2 sees ONLY data-only
    // messages. The decoded aggregate can match the straight-from-events
    // batch result only if the template cache crossed the restart in
    // flatMapGroupsWithState state.
    val streamed = queries.IngestQueries.queries("st05_ipfix_session_stream")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = queries.IngestQueries.queries("q50b_ipfix_ingest")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("multimodal pipeline: deterministic features with correct batch shape") {
    val sf = "/root/testdata/sf0.001"
    val docs = queries.Tables(spark, sf, "documents")
    val feats = graft.operators.Multimodal.pipeline(docs)
    assert(feats.columns.toSeq == Seq("doc_id", "width", "height", "n_bytes", "mean_byte", "max_byte", "weighted_sum"))
    val n = docs.count()
    assert(feats.count() == n)
    // n_bytes = width*height*3 always; features deterministic across runs
    assert(feats.filter(col("n_bytes") =!= col("width") * col("height") * 3).count() == 0)
    val a = feats.orderBy("doc_id").collect().toSeq
    val b = graft.operators.Multimodal.pipeline(docs).orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("mm01/mm02: lossless features real, JPEG cells NULL, failures impossible rows (oracle-backed since r18)") {
    // The SHA-256 rows-only regression lock retired in round 18: mm01/mm02
    // are now DuckDB-oracle-backed (lossless features recomputed
    // arithmetically from the planted cycled text; JPEG feature cells NULL
    // by the mm06 contract — the lossy raster stays pinned by the ImageIO
    // cross-validation + aHash specs below). This spec pins the structure
    // the oracle can't see: every doc emits rows, JPEG rows are exactly
    // the NULL-featured ones, and no -1 failure rows exist.
    val sf = "/root/testdata/sf0.001"
    val docs = queries.Tables(spark, sf, "documents")
    val n = docs.count()
    val f1 = SparkEntry.queries("mm01_binary_pipeline")(spark, sf).collect()
    assert(f1.length == n, "mm01 must emit one row per doc")
    assert(!f1.exists(_.getAs[Long]("width") == -1L), "a payload failed to parse")
    for (r <- f1) {
      val isJpeg = r.getAs[Long]("doc_id") % 4 == 2
      assert(r.isNullAt(r.fieldIndex("weighted_sum")) == isJpeg,
        s"doc ${r.getAs[Long]("doc_id")}: NULL features must be exactly the JPEG rows")
      assert(r.isNullAt(r.fieldIndex("mean_byte")) == isJpeg)
    }
    val f2 = SparkEntry.queries("mm02_frame_sample")(spark, sf).collect()
    assert(!f2.exists(_.getAs[Long]("frame_idx") == -1L), "a payload failed to parse")
    assert(f2.map(_.getAs[Long]("doc_id")).distinct.length == n,
      "mm02 must emit frames for every doc")
  }

  test("JPEG container -> aHash path is pinned (mm04's corpus is lossless-only)") {
    // mm04's oracle promotion restricted its corpus containers to the
    // lossless pair, so the decodeJpeg->perceptualHash pipeline is pinned
    // HERE: a real encodeJpeg payload through the full sniff+huffman+IDCT
    // +aHash chain must reproduce the committed 64-bit hash exactly, and
    // land within a few bits of the SAME raster's lossless-PNG hash (the
    // aHash near-dup property the lossy codec must preserve).
    val jh = graft.tools.FeaturePin.jpegAHash(spark)
    val ph = graft.tools.FeaturePin.pngAHash(spark)
    assert(jh == 6807224346497128286L, s"JPEG decode->aHash drifted: $jh")
    assert(ph == 6807290317330061150L, s"PNG decode->aHash drifted: $ph")
    assert(java.lang.Long.bitCount(jh ^ ph) <= 8,
      s"lossy aHash moved ${java.lang.Long.bitCount(jh ^ ph)} bits off the lossless reference")
  }

  test("resize maps the nearest-neighbor grid exactly (2x downscale fixture)") {
    import spark.implicits._
    import graft.operators.Multimodal
    // 4x4 single-channel "image" with pixel value = linear index: a 2x2 NN
    // downscale must pick sources (0,0),(0,2),(2,0),(2,2) -> bytes 0,2,8,10
    val payload = Array.tabulate[Byte](16)(_.toByte)
    val rows = Seq(Multimodal.MediaRow(7L, payload, 4, 4, 1)).toDS()
    val r = Multimodal.resize(rows, 2, 2).collect().head
    assert(r.n_bytes == 4L)
    assert(r.corner_tl == 0 && r.corner_br == 10)
    assert(r.mean_byte == (0 + 2 + 8 + 10) / 4.0)
    // full pipeline returns one thumbnail row per doc with fixed size
    val out = SparkEntry.queries("mm03_resize_grid")(spark, "/root/testdata/sf0.001")
    assert(out.groupBy().count().collect().head.getLong(0) ==
      queries.Tables(spark, "/root/testdata/sf0.001", "documents").count())
    assert(out.select("n_bytes").distinct().collect().map(_.getLong(0)).toSeq == Seq(16L * 16 * 3))
  }

  test("perceptual hash: identical images collide, small edits stay near, near-dup pairs surface") {
    import spark.implicits._
    import graft.operators.Multimodal
    val payload = Array.tabulate[Byte](600)(i => ((i * 31) % 251).toByte)
    val edited = payload.clone(); edited(5) = 77; edited(300) = 11
    val other = Array.tabulate[Byte](600)(i => ((i * 17 + 101) % 241).toByte)
    val rows = Seq(
      Multimodal.MediaRow(1L, payload, 20, 20, 3),
      Multimodal.MediaRow(2L, payload, 20, 20, 3), // identical image
      Multimodal.MediaRow(3L, edited, 20, 20, 3), // two bytes changed
      Multimodal.MediaRow(4L, other, 20, 20, 3)).toDS()
    val h = Multimodal.perceptualHash(rows).collect().map(r => r.doc_id -> r.phash).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(h(1L) == h(2L), "identical pixels must hash identically")
    assert(ham(h(1L), h(3L)) <= 8, s"tiny edit moved ${ham(h(1L), h(3L))} bits")
    // the per-doc pipeline: duplicate TEXTS make identical images (dims
    // derive from content), so both copies report best_hamming 0
    val docs = Seq(
      (1L, "the same exact body of text repeated", 37L),
      (2L, "the same exact body of text repeated", 37L),
      (3L, "a completely different document body here", 41L))
      .toDF("doc_id", "text", "n_chars")
    val out = graft.operators.Multimodal.phashPairs(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    assert(out.size == 3, "one summary row per doc, always")
    assert(out(1L)._2 == 0L && out(2L)._2 == 0L, s"identical docs must report hamming 0: $out")
    // full corpus run: one row per doc, deterministic
    val corpus = SparkEntry.queries("mm04_phash_neardup")(spark, "/root/testdata/sf0.001")
    assert(corpus.count() ==
      queries.Tables(spark, "/root/testdata/sf0.001", "documents").count())
  }

  test("audio windows: framing arithmetic, RMS, and zero-crossing counts are exact") {
    import spark.implicits._
    import graft.operators.Multimodal
    // 3 windows' worth of samples at win=4, hop=2: sample i = value v(i)
    def pcm(samples: Seq[Int]): Array[Byte] =
      samples.flatMap(s => Seq(((s >> 8) & 0xff).toByte, (s & 0xff).toByte)).toArray
    val constant = Multimodal.MediaRow(1L, pcm(Seq.fill(8)(100)), 0, 0, 1)
    val alternating = Multimodal.MediaRow(2L, pcm(Seq(100, -100, 100, -100, 100, -100, 100, -100)), 0, 0, 1)
    val out = Multimodal.audioWindows(Seq(constant, alternating).toDS(), win = 4, hop = 2)
      .collect().groupBy(_.doc_id)
    // 8 samples, win 4, hop 2 -> windows at 0,2,4
    assert(out(1L).map(_.win_idx).sorted.toSeq == Seq(0, 1, 2))
    assert(out(1L).forall(w => w.rms == 100.0 && w.zero_crossings == 0))
    assert(out(2L).forall(w => w.rms == 100.0 && w.zero_crossings == 3))
    // corpus pipeline: fan-out count = floor((n_samples - win) / hop) + 1 per doc
    val sf = "/root/testdata/sf0.001"
    val frames = SparkEntry.queries("mm05_audio_windows")(spark, sf)
    val perDoc = frames.groupBy("doc_id").count()
    val expected = queries.Tables(spark, sf, "documents")
      .select(col("doc_id"), (length(col("text")) / 2).cast("int").as("n"))
      .select(col("doc_id"), (floor((col("n") - 64) / 32) + 1).cast("long").as("want"))
    assert(perDoc.join(expected, "doc_id").filter(col("count") =!= col("want")).count() == 0)
  }

  test("frame sampling fans each doc out to ceil(height/stride) frames") {
    val sf = "/root/testdata/sf0.001"
    val docs = queries.Tables(spark, sf, "documents")
    val frames = graft.operators.Multimodal.framePipeline(docs)
    val perDoc = frames.groupBy("doc_id").count()
    val meta = graft.operators.Multimodal.attachPayload(docs).select("doc_id", "height")
    val bad = perDoc.join(meta, "doc_id")
      .filter(col("count") =!= ceil(col("height") / lit(4.0)).cast("long"))
    assert(bad.count() == 0)
    assert(frames.filter(col("frame_idx") % 4 =!= 0).count() == 0, "only strided frames kept")
  }
}
