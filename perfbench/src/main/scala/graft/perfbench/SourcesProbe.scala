package graft.perfbench

import scala.util.Random

import graft.sources.{Ipfix, NetFlowV5, NetFlowV9}

/** Decode probe of graft.sources: seeded NetFlow v5, v9 and IPFIX exports
  * are packed with each codec's public `pack` functions, decoded with its
  * public decoders (v5 `parse`; v9 and IPFIX `decodeSession` over a
  * template-first exporter session), and every decoded record is compared
  * with the record it was generated from. */
object SourcesProbe {
  /** Per-format outcome: decode nanoseconds per record, and the first
    * mismatch (None when every record round-tripped). */
  final case class Result(format: String, records: Int, nsPerRecord: Double, error: Option[String])

  private val Records = 30000

  private final case class Gen(src: String, dst: String, sp: Int, dp: Int, proto: Int,
      packets: Long, octets: Long, first: Long, last: Long)

  private def ip(v: Int): String = s"${(v >>> 24) & 0xff}.${(v >>> 16) & 0xff}.${(v >>> 8) & 0xff}.${v & 0xff}"

  private def gen(rng: Random, n: Int, wideCounters: Boolean): IndexedSeq[Gen] =
    IndexedSeq.fill(n) {
      val first = rng.nextInt(Int.MaxValue).toLong
      val counter = () => if (wideCounters) rng.nextLong() & Long.MaxValue else rng.nextInt() & 0xffffffffL
      Gen(ip(rng.nextInt()), ip(rng.nextInt()), rng.nextInt(65536), rng.nextInt(65536),
        rng.nextInt(256), counter(), counter(), first, first + rng.nextInt(600000))
    }

  /** Median over `reps` of the wall time of `decode`, in ns per record. */
  private def timed[T](reps: Int, n: Int)(decode: => T): (T, Double) = {
    var out: T = decode
    val ns = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      out = decode
      (System.nanoTime() - t0).toDouble / n
    }.sorted
    (out, ns(ns.length / 2))
  }

  private def check(expected: IndexedSeq[Gen], got: IndexedSeq[Gen], format: String): Option[String] =
    if (got.length != expected.length) Some(s"$format: decoded ${got.length} records, generated ${expected.length}")
    else expected.indices.find(i => expected(i) != got(i))
      .map(i => s"$format: record $i decoded as ${got(i)}, generated ${expected(i)}")

  def v5(rng: Random, reps: Int): Result = {
    val flows = gen(rng, Records, wideCounters = false)
    val packets = flows.grouped(30).zipWithIndex.map { case (g, i) =>
      NetFlowV5.pack(g.map(f => NetFlowV5.Flow(f.src, f.dst, f.sp, f.dp, f.proto, f.packets, f.octets,
        f.first, f.last, tcpFlags = f.proto & 0x3f)), sysUptimeMs = 1000L, unixSecs = 1700000000L, i * 30L)
    }.toIndexedSeq
    val (decoded, ns) = timed(reps, Records)(packets.map(NetFlowV5.parse))
    val got = decoded.flatMap { pkt =>
      val recs = pkt.getArray(5)
      (0 until recs.numElements()).map { j =>
        val r = recs.getStruct(j, 10)
        Gen(r.getUTF8String(0).toString, r.getUTF8String(1).toString, r.getInt(2), r.getInt(3),
          r.getInt(4), r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9))
      }
    }
    Result("v5", Records, ns, check(flows, got, "v5"))
  }

  def v9(rng: Random, reps: Int): Result = {
    val flows = gen(rng, Records, wideCounters = false)
    val packets = NetFlowV9.packTemplateOnly(1000L, 1700000000L, 0L, 7L) +:
      flows.grouped(500).zipWithIndex.map { case (g, i) =>
        NetFlowV9.packDataOnly(g.map(f => NetFlowV9.Flow(f.src, f.dst, f.sp, f.dp, f.proto, f.packets,
          f.octets, f.first, f.last)), 1000L, 1700000000L, i + 1L, 7L)
      }.toIndexedSeq
    val (decoded, ns) = timed(reps, Records)(NetFlowV9.decodeSession(packets.iterator).toIndexedSeq)
    val got = decoded.flatMap(_.records).map(r => Gen(r.src_ip.orNull, r.dst_ip.orNull,
      r.src_port.getOrElse(-1), r.dst_port.getOrElse(-1), r.protocol.getOrElse(-1),
      r.packets.getOrElse(-1L), r.octets.getOrElse(-1L), r.first_sw_ms.getOrElse(-1L), r.last_sw_ms.getOrElse(-1L)))
    Result("v9", Records, ns, check(flows, got, "v9"))
  }

  def ipfix(rng: Random, reps: Int): Result = {
    val flows = gen(rng, Records, wideCounters = true)
    val messages = Ipfix.packTemplateOnly(1700000000L, 0L, 3L) +:
      flows.grouped(500).zipWithIndex.map { case (g, i) =>
        Ipfix.packDataOnly(g.map(f => Ipfix.Flow(f.src, f.dst, f.sp, f.dp, f.proto, f.packets,
          f.octets, f.first, f.last)), 1700000000L, i + 1L, 3L)
      }.toIndexedSeq
    val (decoded, ns) = timed(reps, Records)(Ipfix.decodeSession(messages.iterator).toIndexedSeq)
    val got = decoded.flatMap(_.records).map(r => Gen(r.src_ip.orNull, r.dst_ip.orNull,
      r.src_port.getOrElse(-1), r.dst_port.getOrElse(-1), r.protocol.getOrElse(-1),
      r.packets.getOrElse(-1L), r.octets.getOrElse(-1L), r.flow_start_ms.getOrElse(-1L),
      r.flow_end_ms.getOrElse(-1L)))
    Result("ipfix", Records, ns, check(flows, got, "ipfix"))
  }

  /** All three formats from one seed; a decoder that throws is a failed format. */
  def run(seed: Long, reps: Int): Seq[Result] = {
    val rng = new Random(seed)
    Seq[(String, Random => Result)]("v5" -> (v5(_, reps)), "v9" -> (v9(_, reps)), "ipfix" -> (ipfix(_, reps)))
      .map { case (name, probe) =>
        try probe(rng)
        catch { case scala.util.control.NonFatal(e) => Result(name, Records, 0.0, Some(s"$name: $e")) }
      }
  }
}
