package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.NetFlowV5
import graft.streaming.Streams

/** Flow-ingestion path: synthesize NetFlow v5 export packets from the
  * events table (per-partition, ≤30 records each — the real wire chunking),
  * then decode them back with the native `parse_netflow_v5` expression and
  * aggregate the decoded records. The oracle recomputes the same aggregate
  * straight from events, so a hash match proves the binary round trip is
  * lossless — header, record layout, unsigned 32-bit times included. */
object IngestQueries {

  case class FlowIn(event_id: Long, user_id: Long, value: Double, rel_first: Long, rel_last: Long)
  case class Packet(bytes: Array[Byte])

  private def roundHalfUp(v: Double): Long =
    graft.functions.detsum.roundHalfUpLong(v)

  /** Scratch dir for spool/checkpoint scaffolding, deleted recursively at
    * JVM exit so repeated Verify/perfbench runs don't accumulate disk.
    * ONE shutdown hook drains a shared queue — registering a hook thread
    * per invocation would accumulate live Threads over a long session. */
  private val scratchDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  private lazy val scratchHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      scratchDirs.forEach(p => rm(p.toFile))
    }))
  }
  private[graft] def scratchDir(prefix: String): java.nio.file.Path = {
    scratchHook
    val p = java.nio.file.Files.createTempDirectory(prefix)
    scratchDirs.add(p)
    p
  }

  /** The streaming harness's arrival-feed directory of `kind`, written
    * once per (session, dataset) as a build-once artifact. A spool is
    * collector-feed scaffolding, not the operator under test: it simulates
    * the static test feed ARRIVING, and the feed is a deterministic
    * function of the dataset, so every stream run replays the SAME files
    * while all streaming work (source listing, decode, state, watermarks,
    * sink) stays in the request path. */
  private[graft] def spoolOnce(s: SparkSession, d: String, kind: String)(
      write: java.nio.file.Path => Unit): java.nio.file.Path =
    Artifacts(s, d, s"spool.$kind") {
      val p = scratchDir(s"graft_spool_$kind")
      write(p)
      p
    }

  /** NetFlow v5 packet frame derived from events — the synthetic collector
    * feed used by the batch (q50) and streaming (st04) ingest pipelines. */
  def netflowPackets(s: SparkSession, d: String): org.apache.spark.sql.Dataset[Packet] = {
    import s.implicits._
    val flows = Flows.df(s, d)
      .select(
        col("event_id"), col("user_id"), col("v").as("value"),
        (col("rs") - lit(Flows.JAN_START_MS)).as("rel_first"),
        (col("re") - lit(Flows.JAN_START_MS)).as("rel_last"))
      .as[FlowIn]
    flows.mapPartitions { it =>
      it.grouped(30).map { group =>
        val fl = group.map { f =>
          NetFlowV5.Flow(
            srcIp = s"10.0.${(f.user_id >> 8) & 0xff}.${f.user_id & 0xff}",
            dstIp = "192.168.0.1",
            srcPort = (f.event_id % 65536).toInt,
            dstPort = 443,
            protocol = (f.event_id % 3) match { case 0 => 6; case 1 => 17; case _ => 1 },
            packets = f.event_id % 100 + 1,
            octets = roundHalfUp(f.value),
            firstMs = f.rel_first,
            lastMs = f.rel_last)
        }
        Packet(NetFlowV5.pack(fl, sysUptimeMs = 0L, unixSecs = 1704067200L, flowSequence = 0L))
      }
    }
  }

  private def q50(s: SparkSession, d: String): DataFrame = {
    netflowPackets(s, d)
      .toDF()
      .select(call_function("parse_netflow_v5", col("bytes")).as("pkt"))
      .select(explode(col("pkt.records")).as("r"))
      .groupBy(col("r.protocol").as("protocol"))
      .agg(
        count(lit(1)).as("n_flows"),
        sum(col("r.octets")).as("total_octets"),
        sum(col("r.packets")).as("total_packets"))
  }

  /** Same round trip through the IPFIX codec: per-partition message packing
    * (template + data sets), template-driven decode, aggregate; the oracle
    * recomputes straight from events. IPFIX carries 64-bit counters and
    * absolute millisecond times, so no unsigned-32 truncation is involved. */
  private def q50b(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val flows = Flows.df(s, d)
      .select(col("event_id"), col("user_id"), col("v").as("value"),
        col("rs").as("rel_first"), col("re").as("rel_last"))
      .as[FlowIn]
    val packets = flows.mapPartitions { it =>
      it.grouped(50).map { group =>
        val fl = group.map { f =>
          graft.sources.Ipfix.Flow(
            srcIp = s"10.1.${(f.user_id >> 8) & 0xff}.${f.user_id & 0xff}",
            dstIp = "192.168.0.2",
            srcPort = (f.event_id % 65536).toInt,
            dstPort = 53,
            protocol = (f.event_id % 2) match { case 0 => 6; case _ => 17 },
            packets = f.event_id % 1000 + 1,
            octets = roundHalfUp(f.value),
            flowStartMs = f.rel_first,
            flowEndMs = f.rel_last)
        }
        Packet(graft.sources.Ipfix.pack(fl, exportTimeS = 1704067200L, sequence = 0L, domainId = 1L))
      }
    }
    packets
      .toDF()
      .select(call_function("parse_ipfix", col("bytes")).as("msg"))
      .select(explode(col("msg.records")).as("r"))
      .groupBy(col("r.protocol").as("protocol"))
      .agg(
        count(lit(1)).as("n_flows"),
        sum(col("r.octets")).as("total_octets"),
        // flow duration survives the codec: re-derives (event_id % 7200) seconds
        sum(col("r.flow_end_ms") - col("r.flow_start_ms")).as("total_duration_ms"))
  }

  /** Top-N CONVERSATIONS — the other first-class Drift UI query: decoded
    * flows key by (src_ip, protocol), the top 10 by bytes get their own
    * row, everyone else rolls into "Other" (ES sum_other_doc_count
    * semantics). The key set broadcasts; decoded flows never shuffle to
    * find their label. A hash match against the straight-from-events
    * oracle proves the decode → conversation-key → rollup path. */
  private def q50g(s: SparkSession, d: String): DataFrame = {
    val decoded = netflowPackets(s, d)
      .toDF()
      .select(call_function("parse_netflow_v5", col("bytes")).as("pkt"))
      .select(explode(col("pkt.records")).as("r"))
      .select(col("r.src_ip").as("src_ip"), col("r.protocol").as("protocol"),
        col("r.octets").as("octets"))
      .localCheckpoint(true) // feeds both the top-N set and the rollup
    val top = decoded.groupBy(col("src_ip"), col("protocol"))
      .agg(sum(col("octets")).as("total"))
      .orderBy(col("total").desc, col("src_ip").asc, col("protocol").asc)
      .limit(10)
      .select(col("src_ip"), col("protocol"), lit(true).as("is_top"))
    decoded.join(broadcast(top), Seq("src_ip", "protocol"), "left")
      .withColumn("conversation",
        when(col("is_top"), concat(col("src_ip"), lit("/"), col("protocol").cast("string")))
          .otherwise(lit("Other")))
      .groupBy(col("conversation"))
      .agg(count(lit(1)).as("n_flows"), sum(col("octets")).as("total_octets"))
  }

  /** ES `ip_prefix` agg over the DECODED flow stream: bucket source
    * addresses by their /24 network (the Drift "which subnets talk most"
    * view). Decode → prefix-mask → count/sum, one aggregation on the masked
    * key; the oracle recomputes from raw events so a hash match proves the
    * decode → mask path. */
  private def q50h(s: SparkSession, d: String): DataFrame = {
    netflowPackets(s, d)
      .toDF()
      .select(call_function("parse_netflow_v5", col("bytes")).as("pkt"))
      .select(explode(col("pkt.records")).as("r"))
      .select(col("r.src_ip").as("src_ip"), col("r.octets").as("octets"))
      .withColumn("prefix", concat(substring_index(col("src_ip"), ".", 3), lit(".0/24")))
      .groupBy(col("prefix"))
      .agg(count(lit(1)).as("n_flows"), sum(col("octets")).as("total_octets"))
  }

  /** ES `ip_range` agg: explicit from/to (to-exclusive) address ranges over
    * the decoded flow source IPs — including an OVERLAPPING range, because
    * ES ranges are independent buckets (a doc lands in every range that
    * contains it), not a partition. The dotted address from the decoder is
    * re-parsed to its numeric form (so a hash match proves the decode →
    * parse path), the 4-row range table broadcasts, and the only shuffle is
    * the per-range aggregation. */
  private def q50i(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // (key, from, to) — numeric IPv4; null = unbounded, matching ES
    val ranges = Seq(
      ("r0_low", None: Option[Long], Some(ip("10.0.64.0"))),
      ("r1_mid", Some(ip("10.0.64.0")), Some(ip("10.0.128.0"))),
      ("r2_high", Some(ip("10.0.128.0")), None: Option[Long]),
      ("r3_overlap", Some(ip("10.0.32.0")), Some(ip("10.0.192.0"))))
      .toDF("range_key", "ip_from", "ip_to")
    val p = split(col("src_ip"), "\\.")
    netflowPackets(s, d)
      .toDF()
      .select(call_function("parse_netflow_v5", col("bytes")).as("pkt"))
      .select(explode(col("pkt.records")).as("r"))
      .select(col("r.src_ip").as("src_ip"), col("r.octets").as("octets"))
      .withColumn("ipnum",
        p.getItem(0).cast("long") * lit(16777216L) + p.getItem(1).cast("long") * lit(65536L) +
          p.getItem(2).cast("long") * lit(256L) + p.getItem(3).cast("long"))
      .join(
        broadcast(ranges),
        (col("ip_from").isNull || col("ipnum") >= col("ip_from")) &&
          (col("ip_to").isNull || col("ipnum") < col("ip_to")))
      .groupBy(col("range_key"))
      .agg(count(lit(1)).as("n_flows"), sum(col("octets")).as("total_octets"))
  }

  private def ip(dotted: String): Long =
    dotted.split('.').foldLeft(0L)((a, o) => a * 256L + o.toLong)

  /** Stream-STATIC enrichment: the streaming decoded flow records join a
    * broadcast site dimension mid-stream — the always-on form of q50c's
    * collector-side enrich (Spark re-broadcasts the static side per
    * micro-batch; state is only the running aggregate). Shares q50c's
    * oracle: a hash match proves stream decode → broadcast join → agg. */
  /** The NetFlow arrival feed st04 and st08 both stream — identical
    * content, so one build-once spool serves both (see [[spoolOnce]]). */
  private def netflowSpool(s: SparkSession, d: String): java.nio.file.Path =
    spoolOnce(s, d, "nf_packets") { p =>
      netflowPackets(s, d).toDF().write.mode("overwrite").parquet(p.toString)
    }

  private def st08(s: SparkSession, d: String): DataFrame = {
    val spool = netflowSpool(s, d)
    val agg = siteEnrich(s,
      s.readStream
        .schema("bytes BINARY")
        .parquet(spool.toString)
        .select(call_function("parse_netflow_v5", col("bytes")).as("pkt"))
        .select(explode(col("pkt.records")).as("r")))
    Streams.run(agg, "st08_mem", "complete").frame
  }

  /** The spool WRITE path through the same DataSource V2 format: typed flow
    * rows land as raw v5 export packets via
    * `df.write.format(...).mode("overwrite")` (per-task packet packing,
    * rename-on-commit), then read back through the DSv2 reader and
    * aggregated. Oracle identical to q50, so a hash match proves write →
    * wire bytes → read is lossless end to end. */
  private def q50f(s: SparkSession, d: String): DataFrame = {
    val spool = scratchDir("graft_nf_dsv2w").toString
    Flows.df(s, d)
      .select(
        lit(1704067200L).as("unix_secs"),
        lit(0L).as("flow_sequence"),
        concat(lit("10.0."), ((col("user_id") / 256).cast("long") % 256).cast("string"),
          lit("."), (col("user_id") % 256).cast("string")).as("src_ip"),
        lit("192.168.0.1").as("dst_ip"),
        (col("event_id") % 65536).cast("int").as("src_port"),
        lit(443).cast("int").as("dst_port"),
        when(col("event_id") % 3 === 0, 6).when(col("event_id") % 3 === 1, 17).otherwise(1)
          .cast("int").as("protocol"),
        lit(0).cast("int").as("tcp_flags"),
        (col("event_id") % 100 + 1).as("packets"),
        round(col("v")).cast("long").as("octets"),
        (col("rs") - lit(Flows.JAN_START_MS)).as("first_ms"),
        (col("re") - lit(Flows.JAN_START_MS)).as("last_ms"))
      .write.format("graft.sources.NetFlowDataSource").mode("overwrite").save(spool)
    s.read.format("graft.sources.NetFlowDataSource").load(spool)
      .groupBy(col("protocol"))
      .agg(
        count(lit(1)).as("n_flows"),
        sum(col("octets")).as("total_octets"),
        sum(col("packets")).as("total_packets"))
  }

  /** NetFlow v9 (RFC 3954) round trip: template + data FlowSets packed
    * per-partition, decoded BY TEMPLATE with the native `parse_netflow_v9`
    * expression. v9 times are sysUptime-relative 32-bit millis, so the
    * query derives the flow duration from the decoded relative times —
    * a hash match against the straight-from-events oracle proves the
    * template-driven decode (including the 4-byte counter widths and the
    * data-FlowSet padding) is lossless. */
  private def q50e(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val flows = Flows.df(s, d)
      .select(col("event_id"), col("user_id"), col("v").as("value"),
        (col("rs") - lit(Flows.JAN_START_MS)).as("rel_first"),
        (col("re") - lit(Flows.JAN_START_MS)).as("rel_last"))
      .as[FlowIn]
    val packets = flows.mapPartitions { it =>
      it.grouped(25).map { group =>
        val fl = group.map { f =>
          graft.sources.NetFlowV9.Flow(
            srcIp = s"10.2.${(f.user_id >> 8) & 0xff}.${f.user_id & 0xff}",
            dstIp = "192.168.0.3",
            srcPort = (f.event_id % 65536).toInt,
            dstPort = 179,
            protocol = (f.event_id % 4) match { case 0 => 6; case 1 => 17; case 2 => 1; case _ => 47 },
            packets = f.event_id % 500 + 1,
            octets = roundHalfUp(f.value),
            firstSwMs = f.rel_first,
            lastSwMs = f.rel_last)
        }
        Packet(graft.sources.NetFlowV9.pack(
          fl, sysUptimeMs = 0L, unixSecs = 1704067200L, sequence = 0L, sourceId = 7L))
      }
    }
    packets
      .toDF()
      .select(call_function("parse_netflow_v9", col("bytes")).as("pkt"))
      .select(explode(col("pkt.records")).as("r"))
      .groupBy(col("r.protocol").as("protocol"))
      .agg(
        count(lit(1)).as("n_flows"),
        sum(col("r.octets")).as("total_octets"),
        sum(col("r.last_sw_ms") - col("r.first_sw_ms")).as("total_duration_ms"))
  }

  // st04's hourly grid over January's export-relative millis
  private val st04Grid =
    graft.operators.ProportionalSum.Config(Flows.HOUR_MS, Some(0L), Some(31 * Flows.DAY_MS))

  /** The COMPLETE reference pipeline, streaming: a binary NetFlow v5 feed
    * (written once to a spool dir, as a collector would) is stream-read,
    * decoded, and proportionally bucketed into the hourly series — ingest →
    * parse → proportional_sum end to end. Times are export-relative millis;
    * the oracle recomputes the histogram straight from events. */
  private def st04(s: SparkSession, d: String): DataFrame = {
    val spool = netflowSpool(s, d)
    val records = s.readStream
      .schema("bytes BINARY")
      .parquet(spool.toString)
      .select(call_function("parse_netflow_v5", col("bytes")).as("pkt"))
      .select(explode(col("pkt.records")).as("r"))
      .select(
        col("r.first_ms").as("rs"),
        col("r.last_ms").as("re"),
        col("r.octets").cast("double").as("v"))
    val series = graft.operators.ProportionalSum.run(records, col("rs"), col("re"), col("v"), None, st04Grid)
    Streams.run(series, "st04_mem", "complete").frame
  }

  /** Flow enrichment — the collector-side metadata join Drift does against
    * exporter/site tables before aggregating: decode the NetFlow packets,
    * key each flow by an address attribute (last src octet), join the
    * (small, broadcast) site dimension, aggregate per site. The key is
    * extracted from the DECODED ip string, so a hash match against the
    * straight-from-events oracle proves the binary round trip through the
    * enrichment path. */
  /** The ONE site-enrichment pipeline (decoded records → broadcast site dim
    * → per-site rollup), shared verbatim by the batch (q50c) and streaming
    * (st08) forms — `records` is any frame with the decoded `r` struct, so
    * the two query shapes cannot drift apart. */
  private def siteEnrich(s: SparkSession, records: DataFrame): DataFrame = {
    import s.implicits._
    val sites = (0 until 256).map(o => (o, s"site${o % 8}")).toDF("octet", "site")
    records
      .withColumn("octet", regexp_extract(col("r.src_ip"), "(\\d+)$", 1).cast("int"))
      .join(broadcast(sites), Seq("octet"))
      .groupBy(col("site"))
      .agg(count(lit(1)).as("n_flows"), sum(col("r.octets")).as("total_octets"))
  }

  /** Both forms share one oracle: the enrichment recomputed from raw events. */
  private val siteEnrichOracleSql =
    """SELECT 'site' || CAST(user_id % 8 AS VARCHAR) AS site, COUNT(*) AS n_flows,
      |       CAST(SUM(CAST(round(value) AS BIGINT)) AS BIGINT) AS total_octets
      |FROM events GROUP BY 1""".stripMargin

  private def q50c(s: SparkSession, d: String): DataFrame =
    siteEnrich(s,
      netflowPackets(s, d)
        .toDF()
        .select(call_function("parse_netflow_v5", col("bytes")).as("pkt"))
        .select(explode(col("pkt.records")).as("r")))

  /** The spool read through the DataSource V2 format
    * ([[graft.sources.NetFlowDataSource]]): raw concatenated v5 packets on
    * disk become one row per flow via `spark.read.format(...)`, with column
    * pruning pushed into the reader. Writing the spool uses the executors'
    * shared local FS (local-mode scaffolding; a cluster spool lands on
    * HDFS/object storage the same way). Oracle identical to q50, so a match
    * proves the source path end to end. */
  private def q50d(s: SparkSession, d: String): DataFrame = {
    val spool = scratchDir("graft_nf_dsv2").toString
    netflowPackets(s, d).foreachPartition { (it: Iterator[Packet]) =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val os = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(s"$spool/part-$pid.nf5"))
      try it.foreach(p => os.write(p.bytes))
      finally os.close()
    }
    s.read.format("graft.sources.NetFlowDataSource").load(spool)
      .groupBy(col("protocol"))
      .agg(
        count(lit(1)).as("n_flows"),
        sum(col("octets")).as("total_octets"),
        sum(col("packets")).as("total_packets"))
  }

  /** Streaming IPFIX COLLECTOR semantics (RFC 7011 §8): templates arrive in
    * an earlier export than the data that references them — here in a
    * strictly earlier STREAMING RUN. The per-domain template cache lives in
    * `flatMapGroupsWithState` state, checkpointed like any collector session
    * table: run 1 ingests only template-only messages (zero records out),
    * run 2 ingests data-only messages, which decode ONLY because the
    * templates survived the checkpoint restart. State is sharded by
    * observation domain, so a 1000-exporter fleet spreads across executors;
    * the per-batch sort is the collector's bounded reorder buffer (messages
    * of one domain in one micro-batch). The aggregate hash-matches an
    * oracle recomputed from raw events, proving the decode is lossless. */
  private def st05(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spool = scratchDir("graft_ipfix_spool")
    val ckpt = scratchDir("graft_ipfix_ckpt")
    val nDomains = 4L
    val flows = Flows.df(s, d)
      .select(col("event_id"), col("user_id"), col("v").as("value"),
        col("rs").as("rel_first"), col("re").as("rel_last"))
      .as[FlowIn]
    // collector feed scaffolding (not the operator under test): per-domain
    // sequenced data-only messages; the matching template goes out in seq 0
    val dataMsgs = flows.groupByKey(f => f.event_id % nDomains)
      .flatMapGroups { (dom: Long, it: Iterator[FlowIn]) =>
        it.toSeq.sortBy(_.event_id).grouped(50).zipWithIndex.map { case (group, i) =>
          val fl = group.map { f =>
            graft.sources.Ipfix.Flow(
              srcIp = s"10.1.${(f.user_id >> 8) & 0xff}.${f.user_id & 0xff}",
              dstIp = "192.168.0.2",
              srcPort = (f.event_id % 65536).toInt,
              dstPort = 53,
              protocol = (f.event_id % 2) match { case 0 => 6; case _ => 17 },
              packets = f.event_id % 1000 + 1,
              octets = roundHalfUp(f.value),
              flowStartMs = f.rel_first,
              flowEndMs = f.rel_last)
          }
          (dom, (i + 1).toLong,
            graft.sources.Ipfix.packDataOnly(fl, 1704067200L, (i + 1).toLong, dom))
        }
      }.toDF("domain", "seq", "bytes")
    val tmplMsgs = (0L until nDomains)
      .map(dom => (dom, 0L, graft.sources.Ipfix.packTemplateOnly(1704067200L, 0L, dom)))
      .toDF("domain", "seq", "bytes")
    // feed packing runs ONCE per (session, dataset) — [[spoolOnce]]; each
    // invocation still gets its own fresh two-phase ARRIVAL dir (hardlinks
    // into `spool`, below) and checkpoint, so the template-before-data
    // collector semantics under test are untouched
    val tmplDir = spoolOnce(s, d, "ipfix_tmpl") { p =>
      tmplMsgs.repartition(1).write.mode("overwrite").parquet(p.toString)
    }
    val dataDir = spoolOnce(s, d, "ipfix_data") { p =>
      dataMsgs.repartition(1).write.mode("overwrite").parquet(p.toString)
    }
    def runOnce(): DataFrame = {
      val msgs = s.readStream
        .schema("domain LONG, seq LONG, bytes BINARY")
        .parquet(spool.toString)
        .as[(Long, Long, Array[Byte])]
      val decoded = msgs.groupByKey(_._1)
        .flatMapGroupsWithState[Seq[(Int, Seq[(Int, Int)])], graft.sources.Ipfix.Record](
          OutputMode.Append, GroupStateTimeout.NoTimeout) { (_, it, state) =>
          val cache = graft.sources.Ipfix.newTemplateCache()
          state.getOption.foreach(_.foreach { case (tid, fs) => cache(tid) = fs.toIndexedSeq })
          // bounded reorder buffer: this domain's messages in THIS batch
          val out = it.toSeq.sortBy(_._2).flatMap { case (_, _, bytes) =>
            graft.sources.Ipfix.decode(bytes, cache, strict = false).records
          }
          state.update(cache.toSeq.map { case (tid, fs) => (tid, fs: Seq[(Int, Int)]) })
          out.iterator
        }
      val agg = decoded
        .groupBy(col("protocol"))
        .agg(
          count(lit(1)).as("n_flows"),
          sum(col("octets")).as("total_octets"),
          sum(col("flow_end_ms") - col("flow_start_ms")).as("total_duration_ms"))
      // the state partitioning is fixed by the checkpoint at the first run
      Streams.run(agg, "st05_mem", "complete", Some(ckpt.toString)).frame
    }
    // PHASE 1: templates only — no decodable data yet
    arrive(partFiles(tmplDir), spool, "t")
    runOnce()
    // PHASE 2: data-only messages — decodable only via checkpointed state
    arrive(partFiles(dataDir), spool, "d")
    runOnce()
  }

  /** The `part-` files a Spark write left in `dir`, in name order. */
  private[graft] def partFiles(dir: java.nio.file.Path): Seq[java.nio.file.Path] =
    Option(dir.toFile.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("part-")).sortBy(_.getName).map(_.toPath)

  /** Hard-link `files` into the arrival directory `spool` as `<tag>_<name>`:
    * they ARRIVE there together, keeping their mtimes (a file source's
    * arrival order). */
  private[graft] def arrive(files: Seq[java.nio.file.Path], spool: java.nio.file.Path, tag: String): Unit =
    files.foreach(f => java.nio.file.Files.createLink(spool.resolve(s"${tag}_${f.getFileName}"), f))

  /** Source-format widening: events re-exported as JSON-lines (the other
    * wire format a collector/data-drop commonly lands) and read back through
    * Spark's JSON source with an explicit schema — schema-on-read, no
    * inference pass. The aggregate hash-matches an oracle computed from the
    * parquet table, so a match proves the JSON round trip (including the
    * shortest-round-trip double encoding) is lossless. */
  private def q59(s: SparkSession, d: String): DataFrame = {
    val spool = scratchDir("graft_jsonl")
    Tables(s, d, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        expr("unix_micros(ts) DIV 1000").as("ms"))
      .repartition(4)
      .write.mode("overwrite").json(spool.toString)
    s.read
      .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE, ms LONG")
      .json(spool.toString)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        graft.functions.detsum.sumDet(col("value")).as("sum_value"),
        min(col("ms")).as("min_ms"),
        max(col("ms")).as("max_ms"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q59_jsonl_ingest" -> (q59 _),
    "q50_netflow_ingest" -> (q50 _),
    "q50c_flow_site_enrich" -> (q50c _),
    "q50d_netflow_dsv2_source" -> (q50d _),
    "q50b_ipfix_ingest" -> (q50b _),
    "q50e_netflow9_ingest" -> (q50e _),
    "q50f_netflow_dsv2_sink" -> (q50f _),
    "q50g_conversations" -> (q50g _),
    "q50h_ip_prefix" -> (q50h _),
    "q50i_ip_range" -> (q50i _),
    "st08_stream_static_enrich" -> (st08 _),
    "st04_netflow_pipeline" -> (st04 _),
    "st05_ipfix_session_stream" -> (st05 _))

  val oracleSql: Map[String, String] = Map(
    // the spool's flows as `netflowPackets` encodes them: export-relative
    // millis and whole octets
    "st04_netflow_pipeline" -> s"${FlowQueries.oracle(st04Grid, flows = Flows.sqlCteOver(
      s"SELECT rs - ${Flows.JAN_START_MS} AS rs, re - ${Flows.JAN_START_MS} AS re, " +
        "CAST(CAST(round(v) AS BIGINT) AS DOUBLE) AS v"))} SELECT * FROM agg",
    "q59_jsonl_ingest" ->
      s"""SELECT event_type, COUNT(*) AS n,
         |       ${graft.functions.detsum.sumDetSql("value")} AS sum_value,
         |       min(epoch_ms(ts)) AS min_ms, max(epoch_ms(ts)) AS max_ms
         |FROM events GROUP BY event_type""".stripMargin,
    "st05_ipfix_session_stream" ->
      """SELECT CASE event_id % 2 WHEN 0 THEN 6 ELSE 17 END AS protocol,
        |       COUNT(*) AS n_flows,
        |       CAST(SUM(CAST(round(value) AS BIGINT)) AS BIGINT) AS total_octets,
        |       CAST(SUM((event_id % 7200) * 1000) AS BIGINT) AS total_duration_ms
        |FROM events GROUP BY 1""".stripMargin,
    "q50e_netflow9_ingest" ->
      """SELECT CASE event_id % 4 WHEN 0 THEN 6 WHEN 1 THEN 17 WHEN 2 THEN 1 ELSE 47 END AS protocol,
        |       COUNT(*) AS n_flows,
        |       CAST(SUM(CAST(round(value) AS BIGINT)) AS BIGINT) AS total_octets,
        |       CAST(SUM((event_id % 7200) * 1000) AS BIGINT) AS total_duration_ms
        |FROM events GROUP BY 1""".stripMargin,
    "q50b_ipfix_ingest" ->
      """SELECT CASE event_id % 2 WHEN 0 THEN 6 ELSE 17 END AS protocol,
        |       COUNT(*) AS n_flows,
        |       CAST(SUM(CAST(round(value) AS BIGINT)) AS BIGINT) AS total_octets,
        |       CAST(SUM((event_id % 7200) * 1000) AS BIGINT) AS total_duration_ms
        |FROM events GROUP BY 1""".stripMargin,
    "q50c_flow_site_enrich" -> siteEnrichOracleSql,
    "st08_stream_static_enrich" -> siteEnrichOracleSql,
    "q50h_ip_prefix" ->
      """WITH f AS (
        |  SELECT '10.0.' || CAST((user_id // 256) % 256 AS VARCHAR) || '.0/24' AS prefix,
        |         CAST(round(value) AS BIGINT) AS octets
        |  FROM events
        |)
        |SELECT prefix, COUNT(*) AS n_flows, CAST(SUM(octets) AS BIGINT) AS total_octets
        |FROM f GROUP BY prefix""".stripMargin,
    "q50i_ip_range" ->
      """WITH f AS (
        |  SELECT 167772160 + ((user_id // 256) % 256) * 256 + (user_id % 256) AS ipnum,
        |         CAST(round(value) AS BIGINT) AS octets
        |  FROM events
        |),
        |r AS (
        |  SELECT * FROM (VALUES
        |    ('r0_low', NULL, 167788544),
        |    ('r1_mid', 167788544, 167804928),
        |    ('r2_high', 167804928, NULL),
        |    ('r3_overlap', 167780352, 167821312)) AS t(range_key, ip_from, ip_to)
        |)
        |SELECT range_key, COUNT(*) AS n_flows, CAST(SUM(octets) AS BIGINT) AS total_octets
        |FROM f JOIN r ON (ip_from IS NULL OR ipnum >= ip_from)
        |             AND (ip_to IS NULL OR ipnum < ip_to)
        |GROUP BY range_key""".stripMargin,
    "q50g_conversations" ->
      """WITH f AS (
        |  SELECT '10.0.' || CAST((user_id // 256) % 256 AS VARCHAR) || '.' || CAST(user_id % 256 AS VARCHAR) AS src_ip,
        |         CASE event_id % 3 WHEN 0 THEN 6 WHEN 1 THEN 17 ELSE 1 END AS protocol,
        |         CAST(round(value) AS BIGINT) AS octets
        |  FROM events
        |),
        |top AS (
        |  SELECT src_ip, protocol FROM (
        |    SELECT src_ip, protocol, SUM(octets) AS total
        |    FROM f GROUP BY src_ip, protocol
        |    ORDER BY total DESC, src_ip ASC, protocol ASC LIMIT 10
        |  )
        |)
        |SELECT CASE WHEN (src_ip, protocol) IN (SELECT (src_ip, protocol) FROM top)
        |            THEN src_ip || '/' || CAST(protocol AS VARCHAR) ELSE 'Other' END AS conversation,
        |       COUNT(*) AS n_flows, CAST(SUM(octets) AS BIGINT) AS total_octets
        |FROM f GROUP BY 1""".stripMargin,
    "q50f_netflow_dsv2_sink" ->
      """SELECT CASE event_id % 3 WHEN 0 THEN 6 WHEN 1 THEN 17 ELSE 1 END AS protocol,
        |       COUNT(*) AS n_flows,
        |       CAST(SUM(CAST(round(value) AS BIGINT)) AS BIGINT) AS total_octets,
        |       CAST(SUM(event_id % 100 + 1) AS BIGINT) AS total_packets
        |FROM events GROUP BY 1""".stripMargin,
    "q50d_netflow_dsv2_source" ->
      """SELECT CASE event_id % 3 WHEN 0 THEN 6 WHEN 1 THEN 17 ELSE 1 END AS protocol,
        |       COUNT(*) AS n_flows,
        |       CAST(SUM(CAST(round(value) AS BIGINT)) AS BIGINT) AS total_octets,
        |       CAST(SUM(event_id % 100 + 1) AS BIGINT) AS total_packets
        |FROM events GROUP BY 1""".stripMargin,
    "q50_netflow_ingest" ->
      """SELECT CASE event_id % 3 WHEN 0 THEN 6 WHEN 1 THEN 17 ELSE 1 END AS protocol,
        |       COUNT(*) AS n_flows,
        |       CAST(SUM(CAST(round(value) AS BIGINT)) AS BIGINT) AS total_octets,
        |       CAST(SUM(event_id % 100 + 1) AS BIGINT) AS total_packets
        |FROM events GROUP BY 1""".stripMargin)
}
