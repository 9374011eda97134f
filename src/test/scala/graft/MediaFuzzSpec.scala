package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.MediaCodec

/** Malformed media input is rejected, never misread: every truncation of
  * an encoded BMP, PNG, GIF, JPEG or WAV file, and random bytes behind a
  * valid header, decode to None, throw IllegalArgumentException, or (for a
  * cut that keeps every byte the decoder reads) decode to exactly the
  * encoded value — never another exception, and never a different or
  * malformed value. Pure JVM, no Spark session. */
class MediaFuzzSpec extends AnyFunSuite {

  /** An encoded file, the value it must decode to (JPEG is lossy, so its
    * full file's own decode), and the decoder under test. */
  private final case class Case(file: Array[Byte], decoded: Seq[Any], decode: Array[Byte] => Option[Seq[Any]])

  private def image(d: MediaCodec.DecodedImage): Seq[Any] = {
    assert(d.pixels.length == d.width * d.height * 3, s"malformed raster ${d.width}x${d.height}")
    Seq(d.width, d.height) ++ d.pixels.toSeq
  }

  private val raster: Gen[(Int, Int, Array[Byte])] = for {
    w <- Gen.choose(1, 9); h <- Gen.choose(1, 9)
    px <- Gen.listOfN(w * h * 3, Gen.choose(-128, 127).map(_.toByte))
  } yield (w, h, px.toArray)

  private val imageDecoders: Map[String, Array[Byte] => Option[Seq[Any]]] = Map(
    "BMP" -> (b => MediaCodec.decodeBmp(b).map(image)),
    "PNG" -> (b => MediaCodec.decodePng(b).map(image)),
    "GIF" -> (b => MediaCodec.decodeGif(b).map(image)),
    "JPEG" -> (b => MediaCodec.decodeJpeg(b).map(image)))
  private val wav: Array[Byte] => Option[Seq[Any]] = b => MediaCodec.decodeWavPcm16(b).map(_.toSeq)

  private val cases: Map[String, (Gen[Case], Int)] = Map(
    "BMP" -> (raster.map { case (w, h, px) =>
      Case(MediaCodec.encodeBmp(w, h, px), Seq(w, h) ++ px.toSeq, imageDecoders("BMP"))
    }, 54),
    "PNG" -> (raster.map { case (w, h, px) =>
      Case(MediaCodec.encodePng(w, h, px), Seq(w, h) ++ px.toSeq, imageDecoders("PNG"))
    }, 33),
    "GIF" -> (for {
      w <- Gen.choose(1, 9); h <- Gen.choose(1, 9)
      ix <- Gen.listOfN(w * h, Gen.choose(-128, 127).map(_.toByte))
    } yield Case(MediaCodec.encodeGifGray(w, h, ix.toArray), Seq(w, h) ++ ix.flatMap(i => Seq(i, i, i)),
      imageDecoders("GIF")), 13 + 768),
    "JPEG" -> (raster.map { case (w, h, px) =>
      val f = MediaCodec.encodeJpeg(w, h, px)
      Case(f, imageDecoders("JPEG")(f).get, imageDecoders("JPEG"))
    }, 20),
    "WAV" -> (for {
      n <- Gen.choose(0, 64)
      s <- Gen.listOfN(n, Gen.choose(Short.MinValue, Short.MaxValue))
    } yield Case(MediaCodec.encodeWavPcm16(s.toArray), s.map(_.toInt), wav), 44))

  /** None when `decode(bytes)` is None, an IllegalArgumentException, or
    * (when `expected` is given) exactly `expected`; else what went wrong. */
  private def misread(c: Case, bytes: Array[Byte], expected: Option[Seq[Any]]): Option[String] = {
    val got =
      try c.decode(bytes)
      catch {
        case _: IllegalArgumentException => None
        case t: Throwable => return Some(s"threw $t on ${bytes.length} of ${c.file.length} bytes")
      }
    got.filter(g => expected.exists(_ != g))
      .map(_ => s"decoded ${bytes.length} of ${c.file.length} bytes to a different value")
  }

  private def check(prop: Prop): Unit = {
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(40).withInitialSeed(Seed(20261022L)), prop)
    assert(res.passed, res.status.toString)
  }

  for ((kind, (gen, header)) <- cases.toSeq.sortBy(_._1)) {
    test(s"$kind: every truncation of an encoded file is rejected or decodes to the encoded value") {
      check(Prop.forAllNoShrink(gen) { c =>
        assert(c.decode(c.file).contains(c.decoded), s"$kind round trip")
        val bad = (0 until c.file.length).iterator.flatMap(n => misread(c, c.file.take(n), Some(c.decoded)))
          .nextOption()
        Prop(bad.isEmpty) :| bad.getOrElse("")
      })
    }

    test(s"$kind: random bytes behind a valid header are rejected or decode to a well-formed value") {
      val bodies = Gen.choose(0, 512).flatMap(n => Gen.listOfN(n, Gen.choose(-128, 127).map(_.toByte)))
      check(Prop.forAllNoShrink(gen, bodies) { (c, body) =>
        val bad = misread(c, c.file.take(header) ++ body, None)
        Prop(bad.isEmpty) :| bad.getOrElse("")
      })
    }
  }
}
