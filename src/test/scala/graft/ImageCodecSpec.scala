package graft

import graft.operators._

/** Cross-codec and cross-parse pins for the round-10 image legs —
  * `mm_png_pixels` and `mm_gif_frames`. The DuckDB oracles for both are
  * INDEPENDENT (analytic refolds of the synthesis formula, never the
  * bytes), but the house demux discipline also wants a SECOND decode
  * path on this side of the fence: PNG vs BMP (two real JDK codecs over
  * identical pixel content must decode identically) and ImageIO's GIF
  * reader vs the GifIndex structural block walk (two independent parses
  * of the same container must agree on frame geometry). */
class ImageCodecSpec extends SparkSpec {

  private def channelSums(img: java.awt.image.BufferedImage): (Long, Long, Long) = {
    var (sr, sg, sb) = (0L, 0L, 0L)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
        x += 1
      }
      y += 1
    }
    (sr, sg, sb)
  }

  private def decode(payload: Array[Byte]): java.awt.image.BufferedImage =
    javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))

  test("png and bmp codecs decode identical pixel content identically") {
    // same id ⇒ same formula, same dims; one travels through the BMP
    // writer+reader, the other through PNG — both lossless, so the
    // decoded channel sums must be EQUAL, codec against codec
    for (id <- 0L to 60L by 3L) {
      val bmp = decode(Multimodal.bmp24(id))
      val png = decode(Multimodal.pngGradient(id))
      assert(bmp != null && png != null, s"id $id failed a real decode")
      assert((bmp.getWidth, bmp.getHeight) == (png.getWidth, png.getHeight),
        s"id $id: dims disagree")
      assert(channelSums(bmp) == channelSums(png),
        s"id $id: BMP and PNG decode to different channel sums")
    }
  }

  test("png signature gate holds and the entry matches a direct decode") {
    val got = Multimodal.queries("mm_png_pixels")(spark, sf0001)
      .collect().map(r => r.getAs[Long]("media_id") ->
        (r.getAs[Int]("width"), r.getAs[Int]("height"), r.getAs[Long]("sig_ok"),
         r.getAs[Long]("sum_r"), r.getAs[Long]("sum_g"), r.getAs[Long]("sum_b")))
      .toMap
    assert(got.nonEmpty)
    assert(got.values.forall(_._3 == 1L), "a PNG payload missed its signature")
    for ((id, (w, h, _, sr, sg, sb)) <- got.take(20)) {
      val img = decode(Multimodal.pngGradient(id))
      assert((img.getWidth, img.getHeight) == (w, h))
      assert(channelSums(img) == ((sr, sg, sb)), s"id $id sums drifted")
    }
  }

  test("gif structural walk agrees with the ImageIO reader, frame by frame") {
    for (id <- 2L to 62L by 3L) {
      val payload = Multimodal.animatedGif(id)
      val walked = GifIndex.frameDescriptors(payload).getOrElse(
        fail(s"id $id: structural GIF walk rejected a writer-produced file"))
      val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      reader.setInput(iis)
      val n = reader.getNumImages(true)
      assert(walked.length == n,
        s"id $id: walk found ${walked.length} descriptors, ImageIO $n frames")
      val expNf = (2 + id % 4).toInt
      assert(n == expNf, s"id $id: frame count $n != synthesized $expNf")
      for (i <- 0 until n) {
        val img = reader.read(i)
        val (_, _, w, h) = walked(i)
        assert((w, h) == (img.getWidth, img.getHeight),
          s"id $id frame $i: descriptor ${walked(i)} vs decoded " +
            s"${(img.getWidth, img.getHeight)}")
      }
      reader.dispose(); iis.close()
    }
  }

  test("gif palette round-trip is lossless: decoded pixels equal the formula") {
    for (id <- Seq(2L, 5L, 11L, 23L, 47L)) {
      val payload = Multimodal.animatedGif(id)
      val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      reader.setInput(iis)
      val n = reader.getNumImages(true)
      for (f <- 0 until n) {
        val img = reader.read(f)
        for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
          val rgb = img.getRGB(x, y)
          val (r, g, b) = ((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
          val exp = Multimodal.gifGray(id, f, x, y)
          assert(r == exp && g == exp && b == exp,
            s"id $id frame $f ($x,$y): decoded ($r,$g,$b) != gray $exp")
        }
      }
      reader.dispose(); iis.close()
    }
  }

  test("structural walk rejects corrupt GIFs instead of salvaging") {
    val good = Multimodal.animatedGif(8L)
    assert(GifIndex.frameDescriptors(good).isDefined)
    // truncate mid-stream: no trailer reachable
    assert(GifIndex.frameDescriptors(good.take(good.length - 2)).isEmpty)
    // corrupt the header
    val bad = good.clone(); bad(0) = 'X'.toByte
    assert(GifIndex.frameDescriptors(bad).isEmpty)
  }

  test("block hash agrees across codecs and the dup counts match brute force") {
    // cross-codec: the all-integer kernel must produce the same 16 bits
    // whether the pixels traveled through the BMP or the PNG codec
    for (id <- 0L to 60L by 3L) {
      val hb = Multimodal.blockHash(decode(Multimodal.bmp24(id)))
      val hp = Multimodal.blockHash(decode(Multimodal.pngGradient(id)))
      assert(hb == hp, s"id $id: BMP blockhash $hb != PNG blockhash $hp")
    }
    // pigeonhole soundness: the entry's banded candidate join must count
    // exactly what a brute-force all-pairs popcount counts
    val got = Multimodal.queries("mm_blockhash_dups")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("media_id"), r.getAs[Long]("blockhash"),
        r.getAs[Long]("n_dups")))
    val hs = got.map(t => t._1 -> t._2).toMap
    for ((id, h, n) <- got) {
      val brute = hs.count { case (o, oh) =>
        o != id && java.lang.Long.bitCount(h ^ oh) <= 3 }
      assert(n == brute.toLong, s"id $id: entry $n dups, brute $brute")
    }
    assert(got.map(_._3).sum > 0L, "no dup pair anywhere — vacuous join")
  }

  test("gif frame table matches the analytic formula end to end") {
    val got = Multimodal.queries("mm_gif_frames")(spark, sf0001).collect()
    assert(got.nonEmpty)
    for (r <- got) {
      val id = r.getAs[Long]("media_id"); val f = r.getAs[Int]("frame_idx")
      val w = r.getAs[Long]("width").toInt; val h = r.getAs[Long]("height").toInt
      assert(w == (8 + id % 5).toInt && h == (6 + id % 3).toInt)
      val vals = for (y <- 0 until h; x <- 0 until w)
        yield Multimodal.gifGray(id, f, x, y).toLong
      assert(r.getAs[Long]("px_sum") == vals.sum, s"id $id frame $f sum")
      assert(r.getAs[Long]("px_min") == vals.min, s"id $id frame $f min")
      assert(r.getAs[Long]("px_max") == vals.max, s"id $id frame $f max")
    }
  }
}
