package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Ipfix, NetFlowV5, NetFlowV9}

/** Malformed collector input fails with a named error: every truncation
  * of a generated NetFlow v5, v9 or IPFIX packet, and random bytes behind
  * a valid header, either decodes or throws IllegalArgumentException —
  * never an index, buffer or arithmetic exception from inside a decoder.
  * Pure JVM, no Spark session. */
class DecoderFuzzSpec extends AnyFunSuite {

  private val ip: Gen[String] =
    Gen.listOfN(4, Gen.choose(0, 255)).map(_.mkString("."))
  private val u32: Gen[Long] = Gen.choose(0L, 4294967295L)

  private val v5Packet: Gen[Array[Byte]] = for {
    n <- Gen.choose(0, 30)
    flows <- Gen.listOfN(n, for {
      src <- ip; dst <- ip; sp <- Gen.choose(0, 65535); dp <- Gen.choose(0, 65535)
      proto <- Gen.choose(0, 255); pk <- u32; oc <- u32; first <- u32; last <- u32
      flags <- Gen.choose(0, 255)
    } yield NetFlowV5.Flow(src, dst, sp, dp, proto, pk, oc, first, last, flags))
    up <- u32; secs <- u32; seq <- u32
  } yield NetFlowV5.pack(flows, up, secs, seq)

  private val v9Packet: Gen[Array[Byte]] = for {
    n <- Gen.choose(0, 20)
    flows <- Gen.listOfN(n, for {
      src <- ip; dst <- ip; sp <- Gen.choose(0, 65535); dp <- Gen.choose(0, 65535)
      proto <- Gen.choose(0, 255); pk <- u32; oc <- u32; first <- u32; last <- u32
    } yield NetFlowV9.Flow(src, dst, sp, dp, proto, pk, oc, first, last))
    up <- u32; secs <- u32; seq <- u32; src <- u32
    kind <- Gen.choose(0, 2)
  } yield kind match {
    case 0 => NetFlowV9.pack(flows, up, secs, seq, src)
    case 1 => NetFlowV9.packTemplateOnly(up, secs, seq, src)
    case _ => NetFlowV9.packDataOnly(flows, up, secs, seq, src)
  }

  private val ipfixMessage: Gen[Array[Byte]] = for {
    n <- Gen.choose(0, 20)
    flows <- Gen.listOfN(n, for {
      src <- ip; dst <- ip; sp <- Gen.choose(0, 65535); dp <- Gen.choose(0, 65535)
      proto <- Gen.choose(0, 255); pk <- u32; oc <- u32
      start <- Gen.choose(0L, 4102444800000L); dur <- Gen.choose(0L, 86400000L)
    } yield Ipfix.Flow(src, dst, sp, dp, proto, pk, oc, start, start + dur))
    secs <- u32; seq <- u32; dom <- u32
    kind <- Gen.choose(0, 2)
  } yield kind match {
    case 0 => Ipfix.pack(flows, secs, seq, dom)
    case 1 => Ipfix.packTemplateOnly(secs, seq, dom)
    case _ => Ipfix.packDataOnly(flows, secs, seq, dom)
  }

  /** Each decoder entry point a collector calls on untrusted bytes. */
  private val decoders: Seq[(String, Array[Byte] => Any)] = Seq(
    "v5 parse" -> (b => NetFlowV5.parse(b)),
    "v9 decode strict" -> (b => NetFlowV9.decode(b, NetFlowV9.newTemplateCache(), strict = true)),
    "v9 decode session" -> (b => NetFlowV9.decode(b, NetFlowV9.newTemplateCache(), strict = false)),
    "ipfix decode strict" -> (b => Ipfix.decode(b, Ipfix.newTemplateCache(), strict = true)),
    "ipfix decode session" -> (b => Ipfix.decode(b, Ipfix.newTemplateCache(), strict = false)))

  /** None when `bytes` decode or fail with IllegalArgumentException under
    * every decoder; else the decoder and the exception that escaped. */
  private def escaped(bytes: Array[Byte]): Option[String] =
    decoders.iterator.flatMap { case (name, decode) =>
      try { decode(bytes); None }
      catch {
        case _: IllegalArgumentException => None
        case t: Throwable => Some(s"$name threw $t on ${bytes.length} bytes: ${bytes.mkString(",")}")
      }
    }.nextOption()

  private def check(prop: Prop): Unit = {
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(60).withInitialSeed(Seed(20261021L)), prop)
    assert(res.passed, res.status.toString)
  }

  for ((kind, packets, header) <- Seq(
      ("NetFlow v5", v5Packet, 24), ("NetFlow v9", v9Packet, 20), ("IPFIX", ipfixMessage, 16))) {
    test(s"$kind: every truncation of a generated packet decodes or fails with IllegalArgumentException") {
      check(Prop.forAllNoShrink(packets) { p =>
        val bad = (0 to p.length).iterator.flatMap(n => escaped(p.take(n))).nextOption()
        Prop(bad.isEmpty) :| bad.getOrElse("")
      })
    }

    test(s"$kind: random bytes behind a valid header decode or fail with IllegalArgumentException") {
      val bodies = Gen.choose(0, 256).flatMap(n => Gen.listOfN(n, Gen.choose(-128, 127).map(_.toByte)))
      check(Prop.forAllNoShrink(packets, bodies) { (p, body) =>
        val bad = escaped(p.take(header) ++ body)
        Prop(bad.isEmpty) :| bad.getOrElse("")
      })
    }
  }
}
