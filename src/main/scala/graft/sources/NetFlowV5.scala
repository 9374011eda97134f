package graft.sources

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** NetFlow v5 export-packet codec (public wire format: 24-byte header +
  * N × 48-byte flow records, all fields big-endian).
  *
  * The reference stack ingests netflow/IPFIX flows before they ever reach
  * the aggregation the plugin provides; this gives the Spark engine the same
  * front door: `parse_netflow_v5(binary)` turns raw export packets (from a
  * socket/Kafka/file stream) into typed rows ready for
  * [[graft.operators.ProportionalSum]] — `first_ms`/`last_ms`/`octets` are
  * exactly the (rangeStart, rangeEnd, value) triple. */
object NetFlowV5 {

  val recordType: StructType = StructType(Seq(
    StructField("src_ip", StringType, nullable = false),
    StructField("dst_ip", StringType, nullable = false),
    StructField("src_port", IntegerType, nullable = false),
    StructField("dst_port", IntegerType, nullable = false),
    StructField("protocol", IntegerType, nullable = false),
    StructField("tcp_flags", IntegerType, nullable = false),
    StructField("packets", LongType, nullable = false),
    StructField("octets", LongType, nullable = false),
    StructField("first_ms", LongType, nullable = false),
    StructField("last_ms", LongType, nullable = false)))

  val packetType: StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("count", IntegerType, nullable = false),
    StructField("sys_uptime_ms", LongType, nullable = false),
    StructField("unix_secs", LongType, nullable = false),
    StructField("flow_sequence", LongType, nullable = false),
    StructField("records", ArrayType(recordType, containsNull = false), nullable = false)))

  /** One logical flow for the packing side. first/last are export-relative
    * millis (NetFlow v5 carries sysUptime-relative times). */
  case class Flow(
      srcIp: String,
      dstIp: String,
      srcPort: Int,
      dstPort: Int,
      protocol: Int,
      packets: Long,
      octets: Long,
      firstMs: Long,
      lastMs: Long,
      tcpFlags: Int = 0)

  /** Serialize flows into a v5 export packet (≤30 records per packet on the
    * wire; callers chunk accordingly). */
  def pack(flows: Seq[Flow], sysUptimeMs: Long, unixSecs: Long, flowSequence: Long): Array[Byte] = {
    require(flows.size <= 30, "NetFlow v5 allows at most 30 records per packet")
    val buf = ByteBuffer.allocate(24 + 48 * flows.size)
    buf.putShort(5.toShort)
    buf.putShort(flows.size.toShort)
    buf.putInt(sysUptimeMs.toInt)
    buf.putInt(unixSecs.toInt)
    buf.putInt(0) // unix_nsecs
    buf.putInt(flowSequence.toInt)
    buf.put(0.toByte) // engine_type
    buf.put(0.toByte) // engine_id
    buf.putShort(0.toShort) // sampling_interval
    flows.foreach { f =>
      buf.putInt(Ip.toInt(f.srcIp))
      buf.putInt(Ip.toInt(f.dstIp))
      buf.putInt(0) // nexthop
      buf.putShort(0.toShort) // input if
      buf.putShort(0.toShort) // output if
      buf.putInt(f.packets.toInt)
      buf.putInt(f.octets.toInt)
      buf.putInt(f.firstMs.toInt)
      buf.putInt(f.lastMs.toInt)
      buf.putShort(f.srcPort.toShort)
      buf.putShort(f.dstPort.toShort)
      buf.put(0.toByte) // pad1
      buf.put(f.tcpFlags.toByte)
      buf.put(f.protocol.toByte)
      buf.put(0.toByte) // tos
      buf.putShort(0.toShort) // src_as
      buf.putShort(0.toShort) // dst_as
      buf.put(0.toByte) // src_mask
      buf.put(0.toByte) // dst_mask
      buf.putShort(0.toShort) // pad2
    }
    buf.array()
  }

  /** Decode one export packet → Catalyst InternalRow matching [[packetType]].
    * A packet of another version (v9 and IPFIX share the 2-byte version
    * field) or one shorter than its header declares fails with
    * IllegalArgumentException.
    * Called from both eval paths of [[ParseNetFlowV5]] (Scala objects emit
    * static forwarders, so generated Java calls this directly). */
  def parse(bytes: Array[Byte]): InternalRow = {
    if (bytes.length < 24) {
      throw new IllegalArgumentException(
        s"NetFlow v5 packet too short: ${bytes.length} bytes (24-byte header required)")
    }
    val buf = ByteBuffer.wrap(bytes)
    val version = buf.getShort() & 0xffff
    if (version != 5) {
      throw new IllegalArgumentException(s"not a NetFlow v5 packet: version $version")
    }
    val count = buf.getShort() & 0xffff
    if (bytes.length < 24 + 48 * count) {
      throw new IllegalArgumentException(
        s"NetFlow v5 packet truncated: header declares $count records " +
          s"(${24 + 48 * count} bytes) but packet is ${bytes.length} bytes")
    }
    val sysUptime = buf.getInt() & 0xffffffffL
    val unixSecs = buf.getInt() & 0xffffffffL
    buf.getInt() // unix_nsecs
    val flowSeq = buf.getInt() & 0xffffffffL
    buf.get(); buf.get(); buf.getShort() // engine_type, engine_id, sampling
    val records = new Array[Any](count)
    var i = 0
    while (i < count) {
      val srcIp = buf.getInt()
      val dstIp = buf.getInt()
      buf.getInt() // nexthop
      buf.getShort(); buf.getShort() // input/output if
      val packets = buf.getInt() & 0xffffffffL
      val octets = buf.getInt() & 0xffffffffL
      val first = buf.getInt() & 0xffffffffL
      val last = buf.getInt() & 0xffffffffL
      val srcPort = buf.getShort() & 0xffff
      val dstPort = buf.getShort() & 0xffff
      buf.get() // pad1
      val tcpFlags = buf.get() & 0xff
      val proto = buf.get() & 0xff
      buf.get() // tos
      buf.getShort(); buf.getShort() // src/dst as
      buf.get(); buf.get(); buf.getShort() // masks, pad2
      records(i) = InternalRow(
        UTF8String.fromString(Ip.toStr(srcIp)),
        UTF8String.fromString(Ip.toStr(dstIp)),
        srcPort, dstPort, proto, tcpFlags,
        packets, octets, first, last)
      i += 1
    }
    InternalRow(version, count, sysUptime, unixSecs, flowSeq, new GenericArrayData(records))
  }

}

/** parse_netflow_v5(packet_binary) → typed packet struct. Generates code:
  * one static kernel call keeps the surrounding stage in whole-stage
  * codegen. */
case class ParseNetFlowV5(child: Expression) extends UnaryExpression {
  override def dataType: DataType = NetFlowV5.packetType
  override def nullSafeEval(input: Any): Any =
    NetFlowV5.parse(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.sources.NetFlowV5.parse($c);")
  override protected def withNewChildInternal(newChild: Expression): ParseNetFlowV5 = copy(child = newChild)
}
