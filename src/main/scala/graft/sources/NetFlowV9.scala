package graft.sources

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** NetFlow v9 export-packet codec (RFC 3954, public) — the third wire format
  * the reference stack's collectors ingest (v5 fixed-layout, v9 and IPFIX
  * template-driven). v9 sits between the two: template FlowSets (id 0) and
  * options template FlowSets (id 1) register field layouts; data FlowSets
  * (id ≥ 256) decode against the template they name; times are
  * sysUptime-relative 32-bit millis (unlike IPFIX's absolute 64-bit), so the
  * header's `sys_uptime_ms`/`unix_secs` ride along for absolute-time
  * derivation downstream — exactly what a collector does.
  *
  * Supported field types (RFC 3954 §8's IANA numbering, shared with IPFIX
  * for low ids): IN_BYTES(1), IN_PKTS(2), PROTOCOL(4), L4_SRC_PORT(7),
  * IPV4_SRC_ADDR(8), L4_DST_PORT(11), IPV4_DST_ADDR(12), LAST_SWITCHED(21),
  * FIRST_SWITCHED(22). Counters accept any declared length ≤ 8 (read as
  * unsigned big-endian); unknown fields are skipped by their length.
  * Data-FlowSet trailing padding (<1 record, RFC 3954 §5.3) is skipped. */
object NetFlowV9 {

  val FT_OCTETS = 1
  val FT_PACKETS = 2
  val FT_PROTO = 4
  val FT_SRC_PORT = 7
  val FT_SRC_IP = 8
  val FT_DST_PORT = 11
  val FT_DST_IP = 12
  val FT_LAST_SW = 21
  val FT_FIRST_SW = 22

  val recordType: StructType = StructType(Seq(
    StructField("src_ip", StringType, nullable = true),
    StructField("dst_ip", StringType, nullable = true),
    StructField("src_port", IntegerType, nullable = true),
    StructField("dst_port", IntegerType, nullable = true),
    StructField("protocol", IntegerType, nullable = true),
    StructField("packets", LongType, nullable = true),
    StructField("octets", LongType, nullable = true),
    StructField("first_sw_ms", LongType, nullable = true),
    StructField("last_sw_ms", LongType, nullable = true)))

  val packetType: StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("count", IntegerType, nullable = false),
    StructField("sys_uptime_ms", LongType, nullable = false),
    StructField("unix_secs", LongType, nullable = false),
    StructField("sequence", LongType, nullable = false),
    StructField("source_id", LongType, nullable = false),
    StructField("records", ArrayType(recordType, containsNull = false), nullable = false)))

  /** One logical flow for the packing side; first/last are
    * sysUptime-relative millis (32-bit on the wire). */
  case class Flow(
      srcIp: String, dstIp: String, srcPort: Int, dstPort: Int, protocol: Int,
      packets: Long, octets: Long, firstSwMs: Long, lastSwMs: Long)

  case class Record(
      src_ip: Option[String], dst_ip: Option[String],
      src_port: Option[Int], dst_port: Option[Int], protocol: Option[Int],
      packets: Option[Long], octets: Option[Long],
      first_sw_ms: Option[Long], last_sw_ms: Option[Long])

  case class Packet(
      version: Int, count: Int, sys_uptime_ms: Long, unix_secs: Long,
      sequence: Long, source_id: Long, records: Seq[Record])

  /** templateId -> ordered (fieldType, length). One cache per exporter
    * session (peer + source_id), like the IPFIX [[Ipfix.TemplateCache]]. */
  type TemplateCache = mutable.Map[Int, IndexedSeq[(Int, Int)]]
  def newTemplateCache(): TemplateCache = mutable.Map.empty

  private val packFields = Seq(
    FT_SRC_IP -> 4, FT_DST_IP -> 4, FT_SRC_PORT -> 2, FT_DST_PORT -> 2,
    FT_PROTO -> 1, FT_PACKETS -> 4, FT_OCTETS -> 4, FT_FIRST_SW -> 4, FT_LAST_SW -> 4)

  /** Serialize flows as one v9 packet: header + template FlowSet (id 0,
    * template 256) + one data FlowSet padded to a 4-byte boundary. */
  def pack(flows: Seq[Flow], sysUptimeMs: Long, unixSecs: Long,
      sequence: Long, sourceId: Long): Array[Byte] =
    packParts(flows, sysUptimeMs, unixSecs, sequence, sourceId,
      withTemplate = true, withData = true)

  /** Template-only packet — a session's opening export. */
  def packTemplateOnly(sysUptimeMs: Long, unixSecs: Long, sequence: Long, sourceId: Long): Array[Byte] =
    packParts(Nil, sysUptimeMs, unixSecs, sequence, sourceId, withTemplate = true, withData = false)

  /** Data-only packet — records reference template 256 from an earlier
    * packet in the session. */
  def packDataOnly(flows: Seq[Flow], sysUptimeMs: Long, unixSecs: Long,
      sequence: Long, sourceId: Long): Array[Byte] =
    packParts(flows, sysUptimeMs, unixSecs, sequence, sourceId, withTemplate = false, withData = true)

  private def packParts(flows: Seq[Flow], sysUptimeMs: Long, unixSecs: Long,
      sequence: Long, sourceId: Long, withTemplate: Boolean, withData: Boolean): Array[Byte] = {
    // the FlowSet length field is 16-bit: 4 + 29*n + pad must fit (and the
    // header record count is 16-bit too) — callers chunk like v5's 30-limit
    require(flows.size <= 2000,
      s"NetFlow v9 data FlowSet overflows its 16-bit length at ${flows.size} records (max 2000)")
    val recLen = packFields.map(_._2).sum
    val tmplSetLen = if (withTemplate) 4 + 4 + 4 * packFields.size else 0
    val dataBody = recLen * flows.size
    val pad = if (withData) (4 - (4 + dataBody) % 4) % 4 else 0
    val dataSetLen = if (withData) 4 + dataBody + pad else 0
    val buf = ByteBuffer.allocate(20 + tmplSetLen + dataSetLen)
    buf.putShort(9.toShort)
    // header count = records across all FlowSets (templates + data records)
    buf.putShort(((if (withTemplate) 1 else 0) + flows.size).toShort)
    buf.putInt(sysUptimeMs.toInt)
    buf.putInt(unixSecs.toInt)
    buf.putInt(sequence.toInt)
    buf.putInt(sourceId.toInt)
    if (withTemplate) {
      buf.putShort(0.toShort) // template FlowSet id
      buf.putShort(tmplSetLen.toShort)
      buf.putShort(256.toShort) // template id
      buf.putShort(packFields.size.toShort)
      packFields.foreach { case (ft, len) =>
        buf.putShort(ft.toShort)
        buf.putShort(len.toShort)
      }
    }
    if (withData) {
      buf.putShort(256.toShort) // data FlowSet id = template id
      buf.putShort(dataSetLen.toShort)
      flows.foreach { f =>
        buf.putInt(Ip.toInt(f.srcIp))
        buf.putInt(Ip.toInt(f.dstIp))
        buf.putShort(f.srcPort.toShort)
        buf.putShort(f.dstPort.toShort)
        buf.put(f.protocol.toByte)
        buf.putInt(f.packets.toInt)
        buf.putInt(f.octets.toInt)
        buf.putInt(f.firstSwMs.toInt)
        buf.putInt(f.lastSwMs.toInt)
      }
      var i = 0
      while (i < pad) { buf.put(0.toByte); i += 1 }
    }
    buf.array()
  }

  /** Unsigned big-endian integer of `len` bytes (len ≤ 8). */
  private def readUnsigned(buf: ByteBuffer, len: Int): Long = {
    var v = 0L
    var i = 0
    while (i < len) { v = (v << 8) | (buf.get() & 0xffL); i += 1 }
    v
  }

  /** Read one template record's field list, bounded by the enclosing
    * FlowSet (a corrupt fieldCount must not read into later FlowSets). */
  private def readFields(buf: ByteBuffer, count: Int, setEnd: Int): IndexedSeq[(Int, Int)] =
    (1 to count).map { _ =>
      if (buf.position() + 4 > setEnd)
        throw new IllegalArgumentException(
          s"NetFlow v9 template truncated/invalid: field at ${buf.position()} exceeds FlowSet end $setEnd")
      val ft = buf.getShort() & 0xffff
      val len = buf.getShort() & 0xffff
      (ft, len)
    }

  /** Decode one v9 packet against (and into) `templates`. `strict=true`
    * (self-contained expression path): data referencing an unknown template
    * throws. `strict=false` (session path): dropped, collector behavior. */
  def decode(bytes: Array[Byte], templates: TemplateCache, strict: Boolean): Packet = {
    if (bytes.length < 20)
      throw new IllegalArgumentException(s"NetFlow v9 packet too short: ${bytes.length} bytes")
    val buf = ByteBuffer.wrap(bytes)
    val version = buf.getShort() & 0xffff
    if (version != 9)
      throw new IllegalArgumentException(s"not a NetFlow v9 packet: version $version")
    val count = buf.getShort() & 0xffff
    val sysUptime = buf.getInt() & 0xffffffffL
    val unixSecs = buf.getInt() & 0xffffffffL
    val sequence = buf.getInt() & 0xffffffffL
    val sourceId = buf.getInt() & 0xffffffffL
    if (count > 0 && bytes.length < 24)
      throw new IllegalArgumentException(
        s"NetFlow v9 packet truncated: $count records declared, no FlowSet after the header")

    val records = mutable.ArrayBuffer.empty[Record]
    while (buf.position() + 4 <= bytes.length) {
      val setId = buf.getShort() & 0xffff
      val setLen = buf.getShort() & 0xffff
      val setEnd = buf.position() + setLen - 4
      if (setLen < 4 || setEnd > bytes.length)
        throw new IllegalArgumentException(
          s"NetFlow v9 FlowSet truncated/invalid: id=$setId len=$setLen at ${buf.position() - 4}")
      if (setId == 0) {
        // template FlowSet: may hold several template records
        while (buf.position() + 4 <= setEnd) {
          val tmplId = buf.getShort() & 0xffff
          val fieldCount = buf.getShort() & 0xffff
          if (fieldCount == 0) templates.remove(tmplId) // exporter reset
          else templates(tmplId) = readFields(buf, fieldCount, setEnd)
        }
        buf.position(setEnd)
      } else if (setId == 1) {
        // options template FlowSet (RFC 3954 §6.1): template id, scope
        // length (bytes), option length (bytes), then scope+option fields.
        // Scope field TYPES live in their own namespace (1=System,
        // 2=Interface, ... — NOT the flow-field numbering), so scope pairs
        // are stored as opaque (-1, len): their lengths drive the record
        // walk but their payloads never decode as flow fields.
        var optDone = false
        while (!optDone && buf.position() + 6 <= setEnd) {
          val tmplId = buf.getShort() & 0xffff
          val scopeLen = buf.getShort() & 0xffff
          val optionLen = buf.getShort() & 0xffff
          // template id 0 (or an empty scope+option layout) can only be
          // over-long zero padding from a non-conformant exporter — RFC
          // padding is ≤3 bytes, but treat ≥6 zero bytes as padding too
          // rather than registering a bogus empty template
          if (tmplId == 0 || scopeLen + optionLen == 0) optDone = true
          else {
            // byte counts must be whole (type, len) pairs — truncating division
            // on corrupt input would misparse the remainder as the next record
            if (scopeLen % 4 != 0 || optionLen % 4 != 0)
              throw new IllegalArgumentException(
                s"NetFlow v9 options template $tmplId truncated/invalid: " +
                  s"scope/option lengths $scopeLen/$optionLen not multiples of 4")
            val scope = readFields(buf, scopeLen / 4, setEnd).map { case (_, l) => (-1, l) }
            val options = readFields(buf, optionLen / 4, setEnd)
            templates(tmplId) = scope ++ options
          }
        }
        buf.position(setEnd)
      } else if (setId >= 256) {
        templates.get(setId) match {
          case None if strict =>
            throw new IllegalArgumentException(
              s"NetFlow v9 data FlowSet $setId references unknown template")
          case None =>
            buf.position(setEnd) // data before template: drop (collector behavior)
          case Some(tmpl) =>
            val recLen = tmpl.map(_._2).sum
            // records repeat while a full record fits; the tail is padding
            while (recLen > 0 && buf.position() + recLen <= setEnd) {
              var srcIp: Option[String] = None
              var dstIp: Option[String] = None
              var srcPort: Option[Int] = None
              var dstPort: Option[Int] = None
              var proto: Option[Int] = None
              var packets: Option[Long] = None
              var octets: Option[Long] = None
              var firstSw: Option[Long] = None
              var lastSw: Option[Long] = None
              tmpl.foreach { case (ft, len) =>
                ft match {
                  case FT_SRC_IP if len == 4 => srcIp = Some(Ip.toStr(buf.getInt()))
                  case FT_DST_IP if len == 4 => dstIp = Some(Ip.toStr(buf.getInt()))
                  case FT_SRC_PORT if len == 2 => srcPort = Some(buf.getShort() & 0xffff)
                  case FT_DST_PORT if len == 2 => dstPort = Some(buf.getShort() & 0xffff)
                  case FT_PROTO if len == 1 => proto = Some(buf.get() & 0xff)
                  case FT_PACKETS if len <= 8 => packets = Some(readUnsigned(buf, len))
                  case FT_OCTETS if len <= 8 => octets = Some(readUnsigned(buf, len))
                  case FT_FIRST_SW if len == 4 => firstSw = Some(buf.getInt() & 0xffffffffL)
                  case FT_LAST_SW if len == 4 => lastSw = Some(buf.getInt() & 0xffffffffL)
                  case _ => buf.position(buf.position() + len) // skip unknown field
                }
              }
              records += Record(srcIp, dstIp, srcPort, dstPort, proto,
                packets, octets, firstSw, lastSw)
            }
            buf.position(setEnd)
        }
      } else {
        buf.position(setEnd) // reserved FlowSet ids 2..255 — skip
      }
    }
    Packet(version, count, sysUptime, unixSecs, sequence, sourceId, records.toSeq)
  }

  /** Self-contained decode (templates precede their data within THIS packet)
    * → Catalyst InternalRow matching [[packetType]]. Called from both eval
    * paths of [[ParseNetFlowV9]] (static forwarder). */
  def parseSelfContained(bytes: Array[Byte]): InternalRow = {
    val pkt = decode(bytes, newTemplateCache(), strict = true)
    val rows = pkt.records.map { r =>
      InternalRow(
        r.src_ip.map(UTF8String.fromString).orNull,
        r.dst_ip.map(UTF8String.fromString).orNull,
        r.src_port.map(Integer.valueOf).orNull,
        r.dst_port.map(Integer.valueOf).orNull,
        r.protocol.map(Integer.valueOf).orNull,
        r.packets.map(java.lang.Long.valueOf).orNull,
        r.octets.map(java.lang.Long.valueOf).orNull,
        r.first_sw_ms.map(java.lang.Long.valueOf).orNull,
        r.last_sw_ms.map(java.lang.Long.valueOf).orNull)
    }
    InternalRow(
      pkt.version, pkt.count, pkt.sys_uptime_ms, pkt.unix_secs,
      pkt.sequence, pkt.source_id, new GenericArrayData(rows.toArray[Any]))
  }

  /** Cross-packet template resolution over one exporter session's ordered
    * packets — same shape as [[Ipfix.decodeSession]]. */
  def decodeSession(packets: Iterator[Array[Byte]]): Iterator[Packet] = {
    val cache = newTemplateCache()
    packets.map(b => decode(b, cache, strict = false))
  }
}

/** parse_netflow_v9(packet_binary) → typed packet struct (template-driven,
  * self-contained packets). Generates code: one static kernel call keeps
  * the surrounding stage in whole-stage codegen. */
case class ParseNetFlowV9(child: Expression) extends UnaryExpression {
  override def dataType: DataType = NetFlowV9.packetType
  override def nullSafeEval(input: Any): Any =
    NetFlowV9.parseSelfContained(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.sources.NetFlowV9.parseSelfContained($c);")
  override protected def withNewChildInternal(newChild: Expression): ParseNetFlowV9 = copy(child = newChild)
}
