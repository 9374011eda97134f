package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.NetFlowV5
import graft.sources.NetFlowV5.Flow

class NetFlowSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()

  test("NetFlow v5 pack → parse round trip preserves every field") {
    import spark.implicits._
    val flows = Seq(
      Flow("10.0.0.1", "192.168.1.2", 50000, 443, 6, 12L, 3456L, 1000L, 4500L),
      Flow("172.16.254.255", "8.8.8.8", 65535, 53, 17, 1L, 76L, 0L, 0L),
      // times beyond 2^31 exercise unsigned 32-bit handling
      Flow("255.255.255.255", "0.0.0.0", 0, 0, 1, 4294967295L, 4294967295L, 2500000000L, 2600000000L))
    val packet = NetFlowV5.pack(flows, sysUptimeMs = 123L, unixSecs = 1704067200L, flowSequence = 7L)
    assert(packet.length == 24 + 48 * 3)

    val df = Seq(packet).toDF("bytes")
      .select(call_function("parse_netflow_v5", col("bytes")).as("pkt"))
    val hdr = df.select("pkt.version", "pkt.count", "pkt.sys_uptime_ms", "pkt.unix_secs", "pkt.flow_sequence")
      .collect()(0)
    assert(hdr.getInt(0) == 5 && hdr.getInt(1) == 3)
    assert(hdr.getLong(2) == 123L && hdr.getLong(3) == 1704067200L && hdr.getLong(4) == 7L)

    val recs = df.select(explode(col("pkt.records")).as("r")).select("r.*")
      .collect().map(r => Flow(
        r.getString(0), r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4),
        r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9)))
    assert(recs.toSeq == flows)
  }

  test("truncated packets fail loudly with a diagnostic, not garbage rows") {
    import spark.implicits._
    val full = NetFlowV5.pack(
      Seq(Flow("1.2.3.4", "5.6.7.8", 1, 2, 6, 1L, 1L, 0L, 1L)), 0L, 0L, 0L)
    val truncated = full.take(40) // header says 1 record but bytes cut short
    val ex = intercept[Exception] {
      Seq(truncated).toDF("bytes")
        .select(call_function("parse_netflow_v5", col("bytes"))).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("truncated")), msgs(ex).mkString(" | "))
  }

  test("a packet with a v9 header fails as not v5, even when its count fits its length") {
    // a v9 (or IPFIX) export shares the 2-byte version field; a v5-sized
    // body under a v9 header must not decode as v5 rows
    val packet = NetFlowV5.pack(
      Seq(Flow("1.2.3.4", "5.6.7.8", 1, 2, 6, 1L, 1L, 0L, 1L)), 0L, 0L, 0L)
    packet(0) = 0; packet(1) = 9
    val ex = intercept[IllegalArgumentException](NetFlowV5.parse(packet))
    assert(ex.getMessage.contains("version 9"), ex.getMessage)
  }

  test("a v9 packet cut after its header fails when the header declares records") {
    import graft.sources.NetFlowV9
    val packet = NetFlowV9.pack(
      Seq(NetFlowV9.Flow("1.2.3.4", "5.6.7.8", 1, 2, 6, 1L, 1L, 0L, 1L)), 0L, 0L, 0L, 0L)
    for (len <- 20 to 23) {
      val ex = intercept[IllegalArgumentException](
        NetFlowV9.decode(packet.take(len), NetFlowV9.newTemplateCache(), strict = true))
      assert(ex.getMessage.contains("truncated"), ex.getMessage)
    }
    // a header declaring no records is a complete (empty) packet
    val empty = packet.take(20)
    empty(2) = 0; empty(3) = 0
    assert(NetFlowV9.decode(empty, NetFlowV9.newTemplateCache(), strict = true).records.isEmpty)
  }

  test("IPFIX pack → parse round trip preserves flow fields") {
    import spark.implicits._
    import graft.sources.Ipfix
    val flows = Seq(
      Ipfix.Flow("10.1.0.1", "192.168.0.2", 50000, 53, 17, 12L, 3456L, 1704067200000L, 1704067205000L),
      Ipfix.Flow("172.16.0.9", "8.8.4.4", 1, 65535, 6, 1L, 76L, 0L, 0L))
    val msg = Ipfix.pack(flows, 1704067200L, 7L, 42L)
    val df = Seq(msg).toDF("b").select(call_function("parse_ipfix", col("b")).as("m"))
    val hdr = df.select("m.version", "m.sequence", "m.domain_id").collect()(0)
    assert(hdr.getInt(0) == 10 && hdr.getLong(1) == 7L && hdr.getLong(2) == 42L)
    val recs = df.select(explode(col("m.records")).as("r")).select("r.*").collect()
      .map(r => Ipfix.Flow(r.getString(0), r.getString(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))
    assert(recs.toSeq == flows)
  }

  test("IPFIX parsing is template-driven: reordered fields and unknown IEs decode correctly") {
    import spark.implicits._
    // hand-build a message whose template reverses field order and includes
    // an unknown 2-byte IE (id 999) the parser must skip by length
    val bb = java.nio.ByteBuffer.allocate(16 + (4 + 4 + 4 * 4) + (4 + 15))
    bb.putShort(10.toShort); bb.putShort(bb.capacity().toShort)
    bb.putInt(0); bb.putInt(0); bb.putInt(0)
    bb.putShort(2.toShort); bb.putShort((4 + 4 + 4 * 4).toShort) // template set
    bb.putShort(300.toShort); bb.putShort(4.toShort) // template 300, 4 fields
    bb.putShort(1.toShort); bb.putShort(8.toShort) // octets FIRST
    bb.putShort(999.toShort); bb.putShort(2.toShort) // unknown IE
    bb.putShort(4.toShort); bb.putShort(1.toShort) // protocol
    bb.putShort(8.toShort); bb.putShort(4.toShort) // src ip LAST
    bb.putShort(300.toShort); bb.putShort((4 + 15).toShort) // data set
    bb.putLong(777L) // octets
    bb.putShort(0xBEEF.toShort) // unknown payload
    bb.put(6.toByte) // protocol
    bb.putInt((10 << 24) | (2 << 16) | (3 << 8) | 4) // 10.2.3.4
    val r = Seq(bb.array()).toDF("b")
      .select(call_function("parse_ipfix", col("b")).as("m"))
      .select(explode(col("m.records")).as("r")).select("r.*").collect()(0)
    assert(r.getLong(6) == 777L, "octets")
    assert(r.getInt(4) == 6, "protocol")
    assert(r.getString(0) == "10.2.3.4", "src ip")
    assert(r.isNullAt(1) && r.isNullAt(2), "absent IEs stay null")
  }

  test("DSv2 source: concatenated packets in one file; garbage fails loudly") {
    import graft.sources.NetFlowV5
    val dir = queries.IngestQueries.scratchDir("nf_dsv2_spec")
    val f1 = NetFlowV5.Flow("1.2.3.4", "5.6.7.8", 1, 2, 6, 10L, 100L, 0L, 1000L)
    val f2 = NetFlowV5.Flow("9.9.9.9", "8.8.8.8", 3, 4, 17, 20L, 200L, 500L, 1500L)
    val p1 = NetFlowV5.pack(Seq(f1), 0L, 1704067200L, 0L)
    val p2 = NetFlowV5.pack(Seq(f2), 0L, 1704067200L, 1L)
    java.nio.file.Files.write(dir.resolve("a.nf5"), p1 ++ p2)
    val df = spark.read.format("graft.sources.NetFlowDataSource").load(dir.toString)
    assert(df.count() == 2)
    // packet header context flattens onto each record; pruning to a
    // header-only column exercises the pushed-down projection
    assert(df.select("flow_sequence").collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L))
    assert(df.filter(org.apache.spark.sql.functions.col("src_ip") === "9.9.9.9")
      .select("octets").head().getLong(0) == 200L)
    // trailing bytes that are not a packet header must fail, not silently drop
    val bad = queries.IngestQueries.scratchDir("nf_dsv2_bad")
    java.nio.file.Files.write(bad.resolve("bad.nf5"), p1 ++ Array[Byte](1, 2, 3))
    intercept[org.apache.spark.SparkException] {
      spark.read.format("graft.sources.NetFlowDataSource").load(bad.toString).count()
    }
    // a packet TRUNCATED mid-record (header declares more than remains) must
    // also fail loudly — zero-padding it would emit silent 0.0.0.0 rows
    val trunc = queries.IngestQueries.scratchDir("nf_dsv2_trunc")
    java.nio.file.Files.write(trunc.resolve("t.nf5"), p1 ++ p2.take(p2.length - 10))
    intercept[org.apache.spark.SparkException] {
      spark.read.format("graft.sources.NetFlowDataSource").load(trunc.toString).count()
    }
  }

  test("DSv2 source: numeric filters push into the reader (no post-scan Filter)") {
    import org.apache.spark.sql.functions.col
    import graft.sources.NetFlowV5
    val dir = queries.IngestQueries.scratchDir("nf_dsv2_pushdown")
    val flows = Seq(
      NetFlowV5.Flow("1.1.1.1", "2.2.2.2", 1, 2, 6, 1L, 10L, 0L, 10L),
      NetFlowV5.Flow("3.3.3.3", "4.4.4.4", 3, 4, 17, 2L, 20L, 0L, 10L),
      NetFlowV5.Flow("5.5.5.5", "6.6.6.6", 5, 6, 6, 3L, 30L, 0L, 10L))
    java.nio.file.Files.write(dir.resolve("a.nf5"), NetFlowV5.pack(flows, 0L, 1L, 0L))
    val df = spark.read.format("graft.sources.NetFlowDataSource").load(dir.toString)
      .filter(col("protocol") === 6 && col("octets") >= 20L)
    assert(df.collect().map(_.getAs[String]("src_ip")).toSeq == Seq("5.5.5.5"))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Filter ("), s"fully-pushed numeric filters must not re-evaluate post-scan:\n$p")
    // a non-pushable predicate (string field) stays as a residual Filter
    val residual = spark.read.format("graft.sources.NetFlowDataSource").load(dir.toString)
      .filter(col("src_ip") === "1.1.1.1")
    assert(residual.count() == 1)
    assert(residual.queryExecution.executedPlan.toString.contains("Filter"))
  }

  test("IPFIX session: templates arrive in an earlier message than data sets") {
    import graft.sources.Ipfix
    val flows = Seq(
      Ipfix.Flow("10.1.0.1", "192.168.0.2", 50000, 53, 17, 12L, 3456L, 100L, 200L),
      Ipfix.Flow("172.16.0.9", "8.8.4.4", 1, 65535, 6, 1L, 76L, 0L, 0L))
    val m1 = Ipfix.packTemplateOnly(1704067200L, 1L, 42L)
    val m2 = Ipfix.packDataOnly(flows.take(1), 1704067201L, 2L, 42L)
    val m3 = Ipfix.packDataOnly(flows.drop(1), 1704067202L, 3L, 42L)
    // strict single-message decode of a data-only message must fail ...
    val ex = intercept[IllegalArgumentException](Ipfix.parseSelfContained(m2))
    assert(ex.getMessage.contains("unknown template"))
    // ... but the session decoder carries the template across messages
    val decoded = Ipfix.decodeSession(Iterator(m1, m2, m3)).toSeq
    assert(decoded.map(_.records.size) == Seq(0, 1, 1))
    val got = decoded.flatMap(_.records).map(r =>
      Ipfix.Flow(r.src_ip.get, r.dst_ip.get, r.src_port.get, r.dst_port.get,
        r.protocol.get, r.packets.get, r.octets.get, r.flow_start_ms.get, r.flow_end_ms.get))
    assert(got == flows)
    // data before template (non-strict) drops, collector-style
    assert(Ipfix.decodeSession(Iterator(m2, m1, m3)).toSeq.map(_.records.size) == Seq(0, 0, 1))
  }

  test("IPFIX options template (set 3) registers; withdrawal (count 0) removes") {
    import graft.sources.Ipfix
    // options template 400: scope = observationDomainId(149, 4B), option = octets(1, 8B)
    val bb = java.nio.ByteBuffer.allocate(16 + (4 + 6 + 4 * 2) + (4 + 12))
    bb.putShort(10.toShort); bb.putShort(bb.capacity().toShort)
    bb.putInt(0); bb.putInt(9); bb.putInt(1)
    bb.putShort(3.toShort); bb.putShort((4 + 6 + 4 * 2).toShort) // options template set
    bb.putShort(400.toShort); bb.putShort(2.toShort); bb.putShort(1.toShort) // id, fields, scope
    bb.putShort(149.toShort); bb.putShort(4.toShort) // scope: domain id (unknown here -> skipped)
    bb.putShort(1.toShort); bb.putShort(8.toShort) // option: octets
    bb.putShort(400.toShort); bb.putShort((4 + 12).toShort) // data set
    bb.putInt(7); bb.putLong(4242L)
    val msg = Ipfix.decode(bb.array(), Ipfix.newTemplateCache(), strict = true)
    assert(msg.records.map(_.octets) == Seq(Some(4242L)))
    assert(msg.records.head.src_ip.isEmpty)
    // withdrawal: template set with field count 0 removes template 256
    val cache = Ipfix.newTemplateCache()
    Ipfix.decode(Ipfix.packTemplateOnly(0L, 1L, 1L), cache, strict = false)
    assert(cache.contains(256))
    val wd = java.nio.ByteBuffer.allocate(16 + 8)
    wd.putShort(10.toShort); wd.putShort(24.toShort)
    wd.putInt(0); wd.putInt(2); wd.putInt(1)
    wd.putShort(2.toShort); wd.putShort(8.toShort) // template set, one record
    wd.putShort(256.toShort); wd.putShort(0.toShort) // field count 0 = withdraw
    Ipfix.decode(wd.array(), cache, strict = false)
    assert(!cache.contains(256))
  }

  test("IPFIX enterprise-specific field (high bit) is skipped by length") {
    import graft.sources.Ipfix
    // template 500: enterprise IE (0x8000|77, 2B, enterprise 9999), then protocol
    val bb = java.nio.ByteBuffer.allocate(16 + (4 + 4 + 4 + 4 + 4) + (4 + 3))
    bb.putShort(10.toShort); bb.putShort(bb.capacity().toShort)
    bb.putInt(0); bb.putInt(0); bb.putInt(0)
    bb.putShort(2.toShort); bb.putShort((4 + 4 + 4 + 4 + 4).toShort)
    bb.putShort(500.toShort); bb.putShort(2.toShort)
    bb.putShort((0x8000 | 77).toShort); bb.putShort(2.toShort); bb.putInt(9999) // enterprise spec
    bb.putShort(4.toShort); bb.putShort(1.toShort) // protocol
    bb.putShort(500.toShort); bb.putShort((4 + 3).toShort)
    bb.putShort(0x7777.toShort) // enterprise payload (skipped)
    bb.put(17.toByte) // protocol
    val msg = Ipfix.decode(bb.array(), Ipfix.newTemplateCache(), strict = true)
    assert(msg.records.map(_.protocol) == Seq(Some(17)))
  }

  test("IPFIX enterprise IE colliding with a standard id stays opaque (separate namespace)") {
    import graft.sources.Ipfix
    // template 501: enterprise IE 0x8000|1 (vendor element 1, 8B, PEN 9999)
    // — the low 15 bits equal octetDeltaCount, but RFC 7011 §3.2 puts it in
    // a different namespace, so the payload must NOT decode as octets
    val bb = java.nio.ByteBuffer.allocate(16 + (4 + 4 + 4 + 4 + 4) + (4 + 9))
    bb.putShort(10.toShort); bb.putShort(bb.capacity().toShort)
    bb.putInt(0); bb.putInt(0); bb.putInt(0)
    bb.putShort(2.toShort); bb.putShort((4 + 4 + 4 + 4 + 4).toShort)
    bb.putShort(501.toShort); bb.putShort(2.toShort)
    bb.putShort((0x8000 | 1).toShort); bb.putShort(8.toShort); bb.putInt(9999)
    bb.putShort(4.toShort); bb.putShort(1.toShort) // protocol
    bb.putShort(501.toShort); bb.putShort((4 + 9).toShort)
    bb.putLong(424242L) // vendor payload — must stay opaque
    bb.put(6.toByte)
    val msg = Ipfix.decode(bb.array(), Ipfix.newTemplateCache(), strict = true)
    assert(msg.records.map(_.protocol) == Seq(Some(6)))
    assert(msg.records.head.octets.isEmpty, "vendor element 1 must not decode as octetDeltaCount")
  }

  test("IPFIX variable-length IE (len 65535): short and 255-long forms walk correctly") {
    import graft.sources.Ipfix
    // template 600: protocol(1B), interfaceName(82, VARLEN), octets(8B).
    // Record 1 carries a 3-byte name (short form); record 2 a 300-byte name
    // (255 + 2-byte length form). Fields AFTER the varlen one must decode.
    val r1 = 1 + (1 + 3) + 8
    val r2 = 1 + (3 + 300) + 8
    val bb = java.nio.ByteBuffer.allocate(16 + (4 + 4 + 4 * 3) + (4 + r1 + r2))
    bb.putShort(10.toShort); bb.putShort(bb.capacity().toShort)
    bb.putInt(0); bb.putInt(0); bb.putInt(1)
    bb.putShort(2.toShort); bb.putShort((4 + 4 + 4 * 3).toShort) // template set
    bb.putShort(600.toShort); bb.putShort(3.toShort)
    bb.putShort(4.toShort); bb.putShort(1.toShort) // protocol
    bb.putShort(82.toShort); bb.putShort(0xffff.toShort) // interfaceName, VARLEN
    bb.putShort(1.toShort); bb.putShort(8.toShort) // octets
    bb.putShort(600.toShort); bb.putShort((4 + r1 + r2).toShort) // data set
    bb.put(6.toByte); bb.put(3.toByte); bb.put("eth".getBytes); bb.putLong(111L)
    bb.put(17.toByte); bb.put(255.toByte); bb.putShort(300.toShort)
    bb.put(Array.fill[Byte](300)('x')); bb.putLong(222L)
    val msg = Ipfix.decode(bb.array(), Ipfix.newTemplateCache(), strict = true)
    assert(msg.records.map(r => (r.protocol.get, r.octets.get)) == Seq((6, 111L), (17, 222L)))
    // a varlen field whose declared payload overruns the set must fail loudly
    val bad = java.nio.ByteBuffer.allocate(16 + (4 + 4 + 4 * 2) + (4 + 3))
    bad.putShort(10.toShort); bad.putShort(bad.capacity().toShort)
    bad.putInt(0); bad.putInt(0); bad.putInt(1)
    bad.putShort(2.toShort); bad.putShort((4 + 4 + 4 * 2).toShort)
    bad.putShort(601.toShort); bad.putShort(2.toShort)
    bad.putShort(4.toShort); bad.putShort(1.toShort)
    bad.putShort(82.toShort); bad.putShort(0xffff.toShort)
    bad.putShort(601.toShort); bad.putShort((4 + 3).toShort)
    bad.put(6.toByte); bad.put(200.toByte) // claims 200 bytes, 0 remain
    bad.put(0.toByte)
    val ex = intercept[IllegalArgumentException](
      Ipfix.decode(bad.array(), Ipfix.newTemplateCache(), strict = true))
    assert(ex.getMessage.contains("data record truncated"))
  }

  test("IPFIX options-template set: trailing 4-byte withdrawal record is processed") {
    import graft.sources.Ipfix
    val cache = Ipfix.newTemplateCache()
    // register options template 400 first (scope skipped, octets option)
    val reg = java.nio.ByteBuffer.allocate(16 + (4 + 6 + 4 * 2))
    reg.putShort(10.toShort); reg.putShort(reg.capacity().toShort)
    reg.putInt(0); reg.putInt(0); reg.putInt(1)
    reg.putShort(3.toShort); reg.putShort((4 + 6 + 4 * 2).toShort)
    reg.putShort(400.toShort); reg.putShort(2.toShort); reg.putShort(1.toShort)
    reg.putShort(149.toShort); reg.putShort(4.toShort)
    reg.putShort(1.toShort); reg.putShort(8.toShort)
    Ipfix.decode(reg.array(), cache, strict = false)
    assert(cache.contains(400))
    // withdrawal: options-template set whose ONLY record is (id, count 0) —
    // 4 bytes, no scope count field
    val wd = java.nio.ByteBuffer.allocate(16 + 8)
    wd.putShort(10.toShort); wd.putShort(24.toShort)
    wd.putInt(0); wd.putInt(2); wd.putInt(1)
    wd.putShort(3.toShort); wd.putShort(8.toShort)
    wd.putShort(400.toShort); wd.putShort(0.toShort)
    Ipfix.decode(wd.array(), cache, strict = false)
    assert(!cache.contains(400), "4-byte options withdrawal must remove the template")
  }

  test("DSv2 sink: rows write as v5 packets, read back identically (incl. tcp_flags)") {
    import spark.implicits._
    val dir = queries.IngestQueries.scratchDir("nf_dsv2_write").toString
    val rows = Seq(
      (1704067200L, 5L, "1.2.3.4", "5.6.7.8", 1000, 443, 6, 18, 10L, 999L, 0L, 1500L),
      (1704067200L, 5L, "9.9.9.9", "8.8.8.8", 2000, 53, 17, 0, 1L, 76L, 100L, 100L))
      .toDF("unix_secs", "flow_sequence", "src_ip", "dst_ip", "src_port", "dst_port",
        "protocol", "tcp_flags", "packets", "octets", "first_ms", "last_ms")
    rows.write.format("graft.sources.NetFlowDataSource").mode("overwrite").save(dir)
    // no half-visible temp files survive the commit
    val files = new java.io.File(dir).listFiles().map(_.getName).sorted
    assert(files.nonEmpty && !files.exists(_.startsWith("_tmp_")), files.mkString(","))
    val back = spark.read.format("graft.sources.NetFlowDataSource").load(dir)
    assert(back.count() == 2)
    val r = back.filter(col("src_ip") === "1.2.3.4").collect()(0)
    assert(r.getAs[Long]("flow_sequence") == 5L)
    assert(r.getAs[Int]("tcp_flags") == 18) // SYN|ACK survives the wire
    assert(r.getAs[Long]("octets") == 999L && r.getAs[Long]("last_ms") == 1500L)
    // overwrite truncates: a second write replaces, never appends
    rows.limit(1).write.format("graft.sources.NetFlowDataSource").mode("overwrite").save(dir)
    assert(spark.read.format("graft.sources.NetFlowDataSource").load(dir).count() == 1)
    // append ADDS files (job-unique names) — it must never rename over an
    // earlier job's spool files
    rows.write.format("graft.sources.NetFlowDataSource").mode("append").save(dir)
    assert(spark.read.format("graft.sources.NetFlowDataSource").load(dir).count() == 3)
    // an orphaned _tmp_ file (crashed writer) must not break or pollute reads
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_tmp_part-9-99.nf5"), Array[Byte](1, 2, 3))
    assert(spark.read.format("graft.sources.NetFlowDataSource").load(dir).count() == 3)
  }

  test("DSv2 sink: per-row header fields (unix_secs/flow_sequence) survive the round trip") {
    import spark.implicits._
    // unix_secs/flow_sequence live in the v5 PACKET header; a mid-buffer
    // change must flush the open packet so each row keeps its own values —
    // not silently collapse to the first row's
    val dir = queries.IngestQueries.scratchDir("nf_dsv2_hdr").toString
    val rows = (1 to 5).map(i =>
      (1704067200L + i, 100L + i, s"10.0.0.$i", "8.8.8.8", 1000 + i, 53, 17, 0,
        i.toLong, 100L * i, 0L, 1000L))
      .toDF("unix_secs", "flow_sequence", "src_ip", "dst_ip", "src_port", "dst_port",
        "protocol", "tcp_flags", "packets", "octets", "first_ms", "last_ms")
      .repartition(1).sortWithinPartitions("unix_secs")
    rows.write.format("graft.sources.NetFlowDataSource").mode("overwrite").save(dir)
    val back = spark.read.format("graft.sources.NetFlowDataSource").load(dir)
      .select("src_port", "unix_secs", "flow_sequence")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    (1 to 5).foreach { i =>
      assert(back(1000 + i) == ((1704067200L + i, 100L + i)),
        s"row $i header fields must survive: got ${back(1000 + i)}")
    }
  }

  test("NetFlow v9 pack → parse round trip preserves flow fields (incl. padding)") {
    import spark.implicits._
    import graft.sources.NetFlowV9
    val flows = Seq(
      NetFlowV9.Flow("10.2.0.1", "192.168.0.3", 50000, 179, 6, 12L, 3456L, 1000L, 4500L),
      NetFlowV9.Flow("172.16.0.9", "8.8.4.4", 1, 65535, 17, 1L, 76L, 0L, 0L),
      // times beyond 2^31 exercise unsigned 32-bit handling
      NetFlowV9.Flow("255.255.255.255", "0.0.0.0", 0, 0, 1, 4294967295L, 4294967295L, 2500000000L, 2600000000L))
    val pkt = NetFlowV9.pack(flows, sysUptimeMs = 55L, unixSecs = 1704067200L, sequence = 9L, sourceId = 7L)
    // 29-byte records → the data FlowSet needs padding to a 4-byte boundary
    assert((pkt.length - 20) % 4 == 0)
    val df = Seq(pkt).toDF("b").select(call_function("parse_netflow_v9", col("b")).as("p"))
    val hdr = df.select("p.version", "p.sys_uptime_ms", "p.unix_secs", "p.sequence", "p.source_id")
      .collect()(0)
    assert(hdr.getInt(0) == 9 && hdr.getLong(1) == 55L && hdr.getLong(2) == 1704067200L)
    assert(hdr.getLong(3) == 9L && hdr.getLong(4) == 7L)
    val recs = df.select(explode(col("p.records")).as("r")).select("r.*")
      .collect().map(r => NetFlowV9.Flow(
        r.getString(0), r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))
    assert(recs.toSeq == flows)
  }

  test("NetFlow v9: template-driven decode honors reordered/unknown/wide fields") {
    import graft.sources.NetFlowV9
    // template 300: protocol first, 8-byte IN_BYTES, unknown field 61 (1B),
    // then src ip — an order the packer never emits
    val bb = java.nio.ByteBuffer.allocate(20 + (4 + 4 + 4 * 4) + (4 + 14 + 2))
    bb.putShort(9.toShort); bb.putShort(2.toShort)
    bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(1)
    bb.putShort(0.toShort); bb.putShort((4 + 4 + 4 * 4).toShort) // template FlowSet
    bb.putShort(300.toShort); bb.putShort(4.toShort)
    bb.putShort(NetFlowV9.FT_PROTO.toShort); bb.putShort(1.toShort)
    bb.putShort(NetFlowV9.FT_OCTETS.toShort); bb.putShort(8.toShort) // wide counter
    bb.putShort(61.toShort); bb.putShort(1.toShort) // direction — unsupported, skip
    bb.putShort(NetFlowV9.FT_SRC_IP.toShort); bb.putShort(4.toShort)
    bb.putShort(300.toShort); bb.putShort((4 + 14 + 2).toShort) // data FlowSet + 2B pad
    bb.put(6.toByte); bb.putLong(1234567890123L); bb.put(1.toByte); bb.putInt(0x0a020001)
    bb.putShort(0.toShort) // padding
    val pkt = NetFlowV9.decode(bb.array(), NetFlowV9.newTemplateCache(), strict = true)
    assert(pkt.records.size == 1)
    val r = pkt.records.head
    assert(r.protocol == Some(6))
    assert(r.octets == Some(1234567890123L)) // 8-byte counter read in full
    assert(r.src_ip == Some("10.2.0.1"))
    assert(r.dst_ip.isEmpty && r.packets.isEmpty)
  }

  test("NetFlow v9 session: templates arrive in an earlier packet than data") {
    import graft.sources.NetFlowV9
    val flows = Seq(
      NetFlowV9.Flow("10.2.0.1", "192.168.0.3", 50000, 179, 6, 12L, 3456L, 100L, 200L),
      NetFlowV9.Flow("172.16.0.9", "8.8.4.4", 1, 65535, 17, 1L, 76L, 0L, 0L))
    val p1 = NetFlowV9.packTemplateOnly(0L, 1704067200L, 1L, 7L)
    val p2 = NetFlowV9.packDataOnly(flows.take(1), 0L, 1704067201L, 2L, 7L)
    val p3 = NetFlowV9.packDataOnly(flows.drop(1), 0L, 1704067202L, 3L, 7L)
    // strict single-packet decode of a data-only packet must fail ...
    val ex = intercept[IllegalArgumentException](NetFlowV9.parseSelfContained(p2))
    assert(ex.getMessage.contains("unknown template"))
    // ... but the session decoder carries the template across packets
    val decoded = NetFlowV9.decodeSession(Iterator(p1, p2, p3)).toSeq
    assert(decoded.map(_.records.size) == Seq(0, 1, 1))
    val got = decoded.flatMap(_.records).map(r =>
      NetFlowV9.Flow(r.src_ip.get, r.dst_ip.get, r.src_port.get, r.dst_port.get,
        r.protocol.get, r.packets.get, r.octets.get, r.first_sw_ms.get, r.last_sw_ms.get))
    assert(got == flows)
    // data before template (non-strict) drops, collector-style
    assert(NetFlowV9.decodeSession(Iterator(p2, p1, p3)).toSeq.map(_.records.size) == Seq(0, 0, 1))
  }

  test("NetFlow v9 options template (FlowSet 1) registers a walkable layout") {
    import graft.sources.NetFlowV9
    // options template 400: scope = System (type 1, 4B), option = packets 4B.
    // Scope type 1 collides with IN_BYTES numerically but lives in the scope
    // namespace — it must stay opaque, NOT decode as octets.
    val bb = java.nio.ByteBuffer.allocate(20 + (4 + 6 + 4 * 2 + 2) + (4 + 8))
    bb.putShort(9.toShort); bb.putShort(2.toShort)
    bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(1)
    bb.putShort(1.toShort); bb.putShort((4 + 6 + 4 * 2 + 2).toShort) // options template FlowSet
    bb.putShort(400.toShort)
    bb.putShort(4.toShort) // scope length: one (type,len) pair = 4 bytes
    bb.putShort(4.toShort) // option length: one pair
    bb.putShort(1.toShort); bb.putShort(4.toShort) // scope field: System (4B)
    bb.putShort(NetFlowV9.FT_PACKETS.toShort); bb.putShort(4.toShort)
    bb.putShort(0.toShort) // padding
    bb.putShort(400.toShort); bb.putShort((4 + 8).toShort) // data FlowSet
    bb.putInt(3); bb.putInt(4242)
    val pkt = NetFlowV9.decode(bb.array(), NetFlowV9.newTemplateCache(), strict = true)
    assert(pkt.records.map(_.packets) == Seq(Some(4242L)))
    assert(pkt.records.head.octets.isEmpty, "scope System field must not decode as IN_BYTES")
  }

  test("NetFlow v9 options FlowSet: >=6 zero padding bytes are not a bogus template 0") {
    import graft.sources.NetFlowV9
    // non-conformant exporter pads the options-template FlowSet with 8 zero
    // bytes (RFC says <=3); the parser must treat them as padding, not
    // register an empty template id 0
    val bb = java.nio.ByteBuffer.allocate(20 + (4 + 6 + 4 * 2 + 8))
    bb.putShort(9.toShort); bb.putShort(1.toShort)
    bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(1)
    bb.putShort(1.toShort); bb.putShort((4 + 6 + 4 * 2 + 8).toShort)
    bb.putShort(401.toShort)
    bb.putShort(4.toShort) // scope: one pair
    bb.putShort(4.toShort) // option: one pair
    bb.putShort(1.toShort); bb.putShort(4.toShort) // scope System (4B)
    bb.putShort(NetFlowV9.FT_PACKETS.toShort); bb.putShort(4.toShort)
    bb.position(bb.position() + 8) // 8 zero bytes of padding
    val cache = NetFlowV9.newTemplateCache()
    NetFlowV9.decode(bb.array(), cache, strict = true)
    assert(cache.contains(401), "real options template registers")
    assert(!cache.contains(0), "zero padding must not register template 0")
  }

  test("NetFlow v9: corrupt template fieldCount fails loudly, not overread") {
    import graft.sources.NetFlowV9
    val bb = java.nio.ByteBuffer.allocate(20 + 12)
    bb.putShort(9.toShort); bb.putShort(1.toShort)
    bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(1)
    bb.putShort(0.toShort); bb.putShort(12.toShort) // template FlowSet, 12 bytes
    bb.putShort(300.toShort); bb.putShort(500.toShort) // claims 500 fields
    bb.putInt(0)
    val ex = intercept[IllegalArgumentException](
      NetFlowV9.decode(bb.array(), NetFlowV9.newTemplateCache(), strict = true))
    assert(ex.getMessage.contains("template truncated/invalid"))
  }

  test("q50: packets built per-partition decode to the straight-from-events aggregate") {
    val got = queries.IngestQueries.queries("q50_netflow_ingest")(spark, "/root/testdata/sf0.001")
      .orderBy("protocol").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expected = queries.Tables(spark, "/root/testdata/sf0.001", "events")
      .selectExpr(
        "CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 6 WHEN 1 THEN 17 ELSE 1 END AS protocol",
        "CAST(round(value) AS BIGINT) AS octets",
        "event_id % 100 + 1 AS packets")
      .groupBy("protocol")
      .agg(count(lit(1)).as("n"), sum("octets").as("o"), sum("packets").as("p"))
      .orderBy("protocol").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == expected.toSeq)
  }
}
