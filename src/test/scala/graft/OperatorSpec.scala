package graft

import org.apache.spark.sql.functions._

import graft.functions.Det
import graft.operators.{Aggregates, Dedup, Etl, Joins, Multimodal, Similarity, TextAnalysis}

/** Unit-level semantics checks on small data (SURVEY.md §5 rebuild test
  * strategy): dedup survivor determinism, decimal-sum exactness, multimodal
  * decode plumbing. */
class OperatorSpec extends SparkSpec {

  test("interval coalesce: islands disjoint+ordered per user, member counts conserved") {
    import graft.operators.Events
    val rows = Events.intervalCoalesce(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // maximality: consecutive islands of the same user must NOT touch —
    // a next island starting at or before the previous end would have merged
    rows.groupBy(_._1).foreach { case (u, iv) =>
      iv.sortBy(_._2).sliding(2).foreach {
        case Array((_, _, _, e1, _), (_, _, s2, _, _)) =>
          assert(s2 > e1, s"user $u: island starting at $s2 overlaps prior end $e1")
        case _ =>
      }
      iv.foreach { case (_, _, s, e, _) => assert(e > s) }
    }
    // conservation: every purchase lands in exactly one island
    val purchases = Tables.events(spark, sf0001)
      .filter(org.apache.spark.sql.functions.col("event_type") === "purchase").count()
    assert(rows.map(_._5).sum == purchases,
      s"island member counts ${rows.map(_._5).sum} != purchases $purchases")
  }

  test("dedupFirstOrder keeps exactly the (date, key)-minimal order per customer") {
    val got = Etl.dedupFirstOrder(spark, sf0001)
    val n = got.count()
    assert(got.select("o_custkey").distinct().count() == n, "duplicate survivor per key")
    val expected = Tables.orders(spark, sf0001)
      .groupBy(col("o_custkey"))
      .agg(min(struct(col("o_orderdate"), col("o_orderkey"))).as("m"))
      .select(col("o_custkey"), col("m.o_orderkey").as("o_orderkey"))
    val mismatches = got.select("o_custkey", "o_orderkey")
      .exceptAll(expected).count()
    assert(mismatches == 0, s"$mismatches non-minimal survivors")
  }

  test("ngram-Jaccard df cap is a no-op on the harness corpus") {
    val capped = Dedup.ngramJaccard(spark, sf0001)
    val uncapped = Dedup.ngramJaccardCapped(spark, sf0001, Long.MaxValue)
    assert(capped.exceptAll(uncapped).isEmpty && uncapped.exceptAll(capped).isEmpty,
      "df cap changed ngram-Jaccard output on testdata")
    assert(capped.count() > 0, "trivially empty ngram-Jaccard output")
  }

  test("chunking: stride-24 starts, ≤32-token chunks, full coverage per doc") {
    val chunks = TextAnalysis.chunkDocuments(spark, sf0001).cache()
    val toksLen = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        size(filter(split(col("text"), " "), t => length(t) > 0)).cast("long").as("n"))
      .filter(col("n") >= 1)
    // every start is 1 + 24·chunk_id, every chunk is ≤ 32 tokens
    assert(chunks.filter(col("start_tok") =!= col("chunk_id") * 24 + 1).count() == 0)
    assert(chunks.filter(col("n_tokens") > 32 || col("n_tokens") < 1).count() == 0)
    // per doc: chunk count = ceil(n / 24) and the last chunk reaches token n
    val perDoc = chunks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        max(col("start_tok") + col("n_tokens") - 1).as("last_tok"))
      .join(toksLen, "doc_id")
    assert(perDoc.filter(col("n_chunks") =!= ceil(col("n") / lit(24.0)).cast("long")).count() == 0,
      "chunk count != ceil(n/stride) for some doc")
    assert(perDoc.filter(col("last_tok") =!= col("n")).count() == 0,
      "some doc's tail not covered by its last chunk")
    assert(toksLen.count() == perDoc.count(), "docs lost by chunking")
    chunks.unpersist()
  }

  test("trigram score: n_tg == n_words - 2 and unique trigrams bounded") {
    val scored = TextAnalysis.trigramScore(spark, sf0001).cache()
    val words = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        size(filter(split(col("text"), " "), t => length(t) > 0)).cast("long").as("n"))
      .filter(col("n") >= 3)
    val joined = scored.join(words, "doc_id")
    assert(joined.count() == words.count(), "scored docs != eligible docs")
    assert(joined.filter(col("n_tg") =!= col("n") - 2).count() == 0,
      "trigram count wrong for some doc")
    // each trigram occurs at least once → sum_freq >= n_tg; uniques are a subset
    assert(scored.filter(col("sum_freq") < col("n_tg")).count() == 0)
    assert(scored.filter(col("n_unique") > col("n_tg")).count() == 0)
    scored.unpersist()
  }

  test("DSIR weights: raw docs only, exact feature counts, ordered output") {
    val w = TextAnalysis.dsirWeights(spark, sf0001).cache()
    val rows = w.collect()
    assert(rows.nonEmpty && rows.length <= 50)
    // target-slice docs must never appear among the resampling candidates
    assert(rows.forall(_.getAs[String]("lang") != "en"))
    // n_feats is exactly unigrams + bigrams = n + (n-1) for docs with n>=2
    val toks = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        size(filter(split(col("text"), " "), t => length(t) > 0)).cast("long").as("n"))
    val joined = w.join(toks, "doc_id")
    assert(joined.count() == rows.length, "weighted doc missing from corpus")
    assert(joined.filter(col("n") >= 2 && col("n_feats") =!= col("n") * 2 - 1)
      .count() == 0, "n_feats != 2n-1 for some doc")
    // output is ordered by weight desc (doc_id tiebreak)
    val lw = rows.map(_.getAs[Double]("logw"))
    assert(lw.forall(v => !v.isNaN && !v.isInfinite))
    assert(lw.zip(lw.tail).forall { case (a, b) => a >= b }, "logw not sorted desc")
    w.unpersist()

    // the Gumbel-top-k resampler: raw docs only, keyed above its weight
    // (g = −ln(−ln u) > −∞), ordered by the perturbed key
    val rs = TextAnalysis.dsirResample(spark, sf0001).collect()
    assert(rs.nonEmpty && rs.length <= 40)
    assert(rs.forall(_.getAs[String]("lang") != "en"))
    val keys = rs.map(_.getAs[Double]("skey"))
    assert(keys.zip(keys.tail).forall { case (a, b) => a >= b }, "skey not sorted desc")
    // resampling with noise must not simply replicate the argmax order:
    // at least one resampled doc sits outside the same-size weight top-k
    // (holds for this corpus; if it ever ties out, the fixture changed)
    val topByW = TextAnalysis.dsirWeights(spark, sf0001).collect()
      .take(rs.length).map(_.getAs[Long]("doc_id")).toSet
    assert(rs.exists(r => !topByW.contains(r.getAs[Long]("doc_id"))),
      "Gumbel noise had no effect — resample == weight ranking")
  }

  test("temperature mix: order-preserving, ratio-compressing, budget-bounded") {
    val m = TextAnalysis.temperatureMix(spark, sf0001).collect()
    assert(m.length == 5, s"expected 5 langs, got ${m.length}")
    val p = m.map(_.getAs[Double]("p"))
    val q = m.map(_.getAs[Double]("q"))
    assert(math.abs(p.sum - 1.0) < 1e-4 && math.abs(q.sum - 1.0) < 1e-4)
    // α<1 preserves the share ORDER but compresses the ratios
    for (i <- p.indices; j <- p.indices if p(i) > p(j) + 1e-9) {
      assert(q(i) > q(j), s"order flipped between rows $i and $j")
      assert(q(i) / q(j) < p(i) / p(j) + 1e-9, "temperature did not flatten")
    }
    val alloc = m.map(_.getAs[Long]("alloc_tokens"))
    assert(alloc.sum <= 100000L, "allocation exceeds the token budget")
    m.zipWithIndex.foreach { case (r, i) =>
      assert(alloc(i) == math.floor(q(i) * 100000.0).toLong) }
  }

  test("HLL partial-union estimates agree with exact within the pinned margin") {
    val got = Aggregates.hllPartialUnion(spark, sf0001).collect()
    assert(got.nonEmpty)
    assert(got.forall(_.getAs[Boolean]("union_ok")), "sketch union drifted >25% from exact")
    // n_partials really is the number of level-1 sketches per priority
    val months = Tables.orders(spark, sf0001)
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(month(col("o_orderdate"))).as("m")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach(r => assert(r.getAs[Long]("n_partials") == months(r.getString(0))))
  }

  test("label centroids: full |labels|×dims matrix with consistent counts") {
    val cent = Similarity.labelCentroids(spark, sf0001).cache()
    val e = Tables.embeddings(spark, sf0001)
    val labels = e.select("label").distinct().count()
    val dims = e.select(size(col("embedding"))).first().getInt(0)
    assert(cent.count() == labels * dims, s"expected ${labels * dims} cells")
    // every dim of a label aggregates the same number of vectors
    val counts = e.groupBy(col("label")).agg(count(lit(1)).as("n_label"))
    assert(cent.join(counts, "label").filter(col("n_vecs") =!= col("n_label")).count() == 0)
    cent.unpersist()
  }

  test("Observation metrics ride the query instead of a second scan (A10 at scale)") {
    // count-audit the production way: df.observe attaches aggregates to the
    // running query — one scan yields data AND audit counters, where a
    // separate .count() would re-read the table (2× scan at 100 TB);
    // identical API on streaming queries via QueryProgress events
    import org.apache.spark.sql.Observation
    val obs = Observation("audit")
    val df = Tables.orders(spark, sf0001)
      .observe(obs, count(lit(1)).as("n_rows"), sum(col("o_totalprice")).as("sum_price"))
      .filter(col("o_totalprice") > 0.0)
    val kept = df.count()
    val metrics = obs.get
    assert(metrics("n_rows").asInstanceOf[Long] == 1500L,
      s"observed n_rows ${metrics("n_rows")}") // observe sits below the filter
    assert(metrics("sum_price").asInstanceOf[Double] > 0.0)
    assert(kept <= 1500L)
  }

  test("Det.dsum is exact at cents resolution (0.1+0.1+0.1 == 0.3)") {
    import spark.implicits._
    val df = Seq(0.1, 0.1, 0.1).toDF("x")
    assert(df.agg(Det.dsum(col("x")).as("s")).head().getDouble(0) == 0.3)
  }

  test("multimodal decode: metadata faithful, deterministic, partition-preserving") {
    val media = Multimodal.mediaTable(spark, sf0001)
    val parts = media.rdd.getNumPartitions
    val feats = Multimodal.decodeFeatures(media)
    assert(feats.rdd.getNumPartitions == parts, "mapPartitions changed partitioning")
    val joined = media.toDF().select(col("media_id"), length(col("payload")).as("len"))
      .join(feats.toDF(), "media_id")
    assert(joined.filter(col("len") =!= col("n_bytes")).count() == 0,
      "n_bytes disagrees with payload length")
    val c1 = feats.toDF().agg(sum(col("checksum"))).head().getLong(0)
    val c2 = Multimodal.decodeFeatures(Multimodal.mediaTable(spark, sf0001))
      .toDF().agg(sum(col("checksum"))).head().getLong(0)
    assert(c1 == c2, "decode not deterministic")
  }

  test("real image decode: actual PNG bytes yield true width/height/channels") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    import spark.implicits._
    // generate real PNG containers in-test (JDK codec, no new dependencies)
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, (x * 31 + y) & 0xffffff)
      val bos = new ByteArrayOutputStream()
      ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val media = Seq(
      Multimodal.MediaRecord(1L, "image", png(17, 9)),
      Multimodal.MediaRecord(2L, "image", png(64, 48)),
      Multimodal.MediaRecord(3L, "image", "not an image".getBytes("UTF-8"))
    ).toDS()
    val feats = Multimodal.decodeFeatures(media).collect().map(f => f.media_id -> f).toMap
    // real container headers drive the dimensions — not the stub arithmetic
    assert(feats(1L).width == 17 && feats(1L).height == 9, feats(1L))
    assert(feats(2L).width == 64 && feats(2L).height == 48, feats(2L))
    assert(feats(1L).channels == 3 && feats(2L).channels == 3)
    // undecodable payload falls back to the deterministic stub, no failure
    val stub = feats(3L)
    assert(stub.n_bytes == "not an image".getBytes("UTF-8").length.toLong)
  }

  test("real audio decode: actual WAV/PCM bytes yield true rate/frames/RMS") {
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem}
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import spark.implicits._
    // generate a real WAV container in-test (JDK writer, no new deps):
    // amplitude-1000 square wave → RMS is exactly 1000.0
    def wav(rateHz: Int, frames: Int): Array[Byte] = {
      val pcm = new Array[Byte](frames * 2)
      for (i <- 0 until frames) {
        val s = if (i % 2 == 0) 1000 else -1000
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
      val fmt = new AudioFormat(rateHz.toFloat, 16, 1, true, false)
      val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, frames.toLong)
      val bos = new ByteArrayOutputStream()
      AudioSystem.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val media = Seq(
      Multimodal.MediaRecord(1L, "audio", wav(8000, 800)),
      Multimodal.MediaRecord(2L, "audio", wav(44100, 4410)),
      Multimodal.MediaRecord(3L, "audio", "not a wav".getBytes("UTF-8"))
    ).toDS()
    val feats = Multimodal.audioFeatures(media).collect().map(f => f.media_id -> f).toMap
    // real container headers + real PCM math — not the stub arithmetic
    assert(feats(1L).sample_rate == 8000 && feats(1L).n_frames == 800L, feats(1L))
    assert(feats(1L).duration_ms == 100L && feats(1L).rms == 1000.0, feats(1L))
    assert(feats(2L).sample_rate == 44100 && feats(2L).n_frames == 4410L, feats(2L))
    assert(feats(2L).duration_ms == 100L && feats(2L).rms == 1000.0, feats(2L))
    assert(feats(1L).n_channels == 1 && feats(1L).bits_per_sample == 16)
    // non-WAV payload falls back to the deterministic stub, no failure
    assert(feats(3L).sample_rate == 16000, feats(3L))
  }

  test("mm_audio_features WAV builder parses identically via javax.sound.sampled") {
    // the entry's container bytes validated by TWO independent decoders:
    // the JDK's own WAV parser must see the same format fields, frame
    // count, and PCM samples the generator formula (and therefore the
    // DuckDB analytic oracle) predicts — so a builder bug can't cancel a
    // decodeWav bug and slip through the hash gate
    val id = 7L; val n = (64 + id % 128).toInt
    val bytes = Multimodal.pcm16Wav(id, n, 8000)
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val fmt = ais.getFormat
    assert(fmt.getSampleRate == 8000f && fmt.getChannels == 1 &&
      fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian)
    assert(ais.getFrameLength == n.toLong)
    val data = ais.readAllBytes()
    assert(data.length == n * 2)
    val expected = (0 until n).map(i => (((id * 31 + i * 7) % 2003) - 1001).toInt)
    val got = (0 until n).map(i =>
      (((data(2 * i) & 0xff) | (data(2 * i + 1) << 8)).toShort).toInt)
    assert(got == expected)
    // and the real decoder agrees with the analytic RMS
    import spark.implicits._
    val f = Multimodal.audioFeatures(
      Seq(Multimodal.MediaRecord(id, "audio", bytes)).toDS()).collect().head
    val sq = expected.map(s => s.toLong * s).sum
    assert(f.n_frames == n.toLong && f.rms == math.sqrt(sq.toDouble / n), f)
  }

  test("IMA ADPCM decode: exact known vectors, and an encoder roundtrip") {
    import spark.implicits._
    // hand-built ADPCM WAV: fmt tag 0x11, mono, 4-bit, given blockAlign +
    // samplesPerBlock (the 2-byte fmt extension), raw block bytes verbatim
    def adpcmWav(rate: Int, blockAlign: Int, spb: Int,
                 blocks: Array[Byte]): Array[Byte] = {
      def u16(x: Int) = Array((x & 0xff).toByte, ((x >> 8) & 0xff).toByte)
      def u32(x: Int) = Array((x & 0xff).toByte, ((x >> 8) & 0xff).toByte,
        ((x >> 16) & 0xff).toByte, ((x >> 24) & 0xff).toByte)
      val fmt = u16(0x11) ++ u16(1) ++ u32(rate) ++
        u32(rate * blockAlign / math.max(1, spb)) ++ u16(blockAlign) ++
        u16(4) ++ u16(2) ++ u16(spb)
      "RIFF".getBytes ++ u32(4 + 8 + fmt.length + 8 + blocks.length) ++
        "WAVE".getBytes ++
        "fmt ".getBytes ++ u32(fmt.length) ++ fmt ++
        "data".getBytes ++ u32(blocks.length) ++ blocks
    }
    // vector 1 — DC: predictor=1000, all-zero nibbles; step starts at 7 so
    // diff = 7>>3 = 0 every step: every decoded sample is exactly 1000
    val dc = adpcmWav(8000, 8, 9,
      Array[Byte](0xE8.toByte, 0x03, 0, 0, 0, 0, 0, 0))
    // vector 2 — hand-traced: pred=0, idx=0; nibble 4: diff=7 → 7, idx→2;
    // nibble 8: step=9, diff=9>>3=1, sign → 6, idx→1. Samples [0, 7, 6].
    val traced = adpcmWav(8000, 8, 3,
      Array[Byte](0, 0, 0, 0, 0x84.toByte, 0, 0, 0))
    val media = Seq(
      Multimodal.MediaRecord(1L, "audio", dc),
      Multimodal.MediaRecord(2L, "audio", traced)).toDS()
    val feats = Multimodal.audioFeatures(media).collect().map(f => f.media_id -> f).toMap
    assert(feats(1L).rms == 1000.0 && feats(1L).n_frames == 9L, feats(1L))
    assert(feats(1L).bits_per_sample == 4 && feats(1L).sample_rate == 8000)
    // samplesPerBlock=3 caps decode: [0,7,6] → RMS = sqrt(85/3) exactly
    assert(feats(2L).n_frames == 3L, feats(2L))
    assert(feats(2L).rms == math.sqrt(85.0 / 3), feats(2L))

    // roundtrip: encode a sine with the standard IMA encoder (test-side),
    // decode with the kernel — lossy, but RMS must land within a few %
    val src = Array.tabulate(1 + 2 * 252)(i =>
      (8000 * math.sin(i * 2 * math.Pi / 50)).toInt)
    val step = Array(7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28,
      31, 34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
      157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544,
      598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878,
      2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
      6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289, 16818,
      18500, 20350, 22385, 24623, 27086, 29794, 32767)
    val idxAdj = Array(-1, -1, -1, -1, 2, 4, 6, 8)
    var pred = src(0); var idx = 0
    val nibbles = src.drop(1).map { s =>
      val st = step(idx)
      var delta = s - pred
      var nib = if (delta < 0) { delta = -delta; 8 } else 0
      var diff = st >> 3
      if (delta >= st) { nib |= 4; delta -= st; diff += st }
      if (delta >= (st >> 1)) { nib |= 2; delta -= st >> 1; diff += st >> 1 }
      if (delta >= (st >> 2)) { nib |= 1; diff += st >> 2 }
      pred = if ((nib & 8) != 0) math.max(-32768, pred - diff)
             else math.min(32767, pred + diff)
      idx = math.min(88, math.max(0, idx + idxAdj(nib & 7)))
      nib
    }
    val hdr = Array((src(0) & 0xff).toByte, ((src(0) >> 8) & 0xff).toByte, 0.toByte, 0.toByte)
    val packed = nibbles.grouped(2).map {
      case Array(a, b) => (a | (b << 4)).toByte
      case Array(a) => a.toByte
    }.toArray
    val blockAlign = 4 + packed.length // one big block
    val enc = adpcmWav(8000, blockAlign, src.length, hdr ++ packed)
    val got = Multimodal.audioFeatures(
      Seq(Multimodal.MediaRecord(3L, "audio", enc)).toDS()).collect().head
    assert(got.n_frames == src.length.toLong, got)
    val srcRms = math.sqrt(src.map(s => s.toLong * s).sum.toDouble / src.length)
    assert(math.abs(got.rms - srcRms) / srcRms < 0.05,
      s"ADPCM roundtrip RMS ${got.rms} vs source $srcRms")

    // malformed ADPCM never throws: truncated block, hostile step index
    val hostile = adpcmWav(8000, 8, 9,
      Array[Byte](0x12, 0x7f, 0xff.toByte, 0xee.toByte, 0x99.toByte))
    val out = Multimodal.audioFeatures(
      Seq(Multimodal.MediaRecord(4L, "audio", hostile)).toDS()).collect()
    assert(out.length == 1) // decoded (clamped index) or stub — either, no throw
  }

  test("perceptual aHash: re-encoded/brightened copies collide, different content separates") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    import spark.implicits._
    def encode(img: BufferedImage, fmt: String): Array[Byte] = {
      val bos = new ByteArrayOutputStream(); ImageIO.write(img, fmt, bos); bos.toByteArray
    }
    def gradient(shift: Int, invert: Boolean): BufferedImage = {
      val img = new BufferedImage(64, 64, BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 64; y <- 0 until 64) {
        val v0 = math.min(255, (x * 3 + y) / 2 + shift)
        val v = if (invert) 255 - v0 else v0
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    val base = gradient(0, invert = false)
    val media = Seq(
      Multimodal.MediaRecord(1L, "image", encode(base, "png")),
      // same pixels, different container: md5 differs, aHash must not
      Multimodal.MediaRecord(2L, "image", encode(base, "bmp")),
      // slightly brightened: near-dup, small Hamming distance
      Multimodal.MediaRecord(3L, "image", encode(gradient(6, invert = false), "png")),
      // inverted gradient: different content, large distance
      Multimodal.MediaRecord(4L, "image", encode(gradient(0, invert = true), "png"))
    ).toDS()
    val hs = Multimodal.perceptualHashes(media).collect().map(p => p.media_id -> p.ahash).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hs(1L) == hs(2L), "container re-encode changed the perceptual hash")
    assert(hamming(hs(1L), hs(3L)) <= 3,
      s"brightened copy too far: ${hamming(hs(1L), hs(3L))}")
    assert(hamming(hs(1L), hs(4L)) >= 16,
      s"inverted image too close: ${hamming(hs(1L), hs(4L))}")
    // blocked pairing finds exactly the near-dups, never the inverted image
    val pairs = Multimodal.perceptualDupPairs(Multimodal.perceptualHashes(media), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)), pairs)
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), s"inverted image paired: $pairs")
  }

  test("image kind gets 3 channels, audio/video 1 (stub decode contract)") {
    val feats = Multimodal.decodeFeatures(Multimodal.mediaTable(spark, sf0001)).toDF()
    assert(feats.filter(col("kind") === "image" && col("channels") =!= 3).count() == 0)
    assert(feats.filter(col("kind") =!= "image" && col("channels") =!= 1).count() == 0)
  }

  test("resize sets target dims for every row and changes checksums") {
    val media = Multimodal.mediaTable(spark, sf0001)
    val resized = Multimodal.resizeFeatures(media, 224, 224).toDF()
    assert(resized.filter(col("width") =!= 224 || col("height") =!= 224).count() == 0)
    val plain = Multimodal.decodeFeatures(media).toDF()
      .select(col("media_id"), col("checksum").as("c0"))
    val changed = resized.select(col("media_id"), col("checksum"))
      .join(plain, "media_id")
      .filter(col("checksum") === col("c0")).count()
    assert(changed == 0, "resize left checksums untouched")
  }

  test("real image resize: bilinear scaling of a solid color keeps the color") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    import spark.implicits._
    def png(w: Int, h: Int, rgb: (Int, Int) => Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, rgb(x, y))
      val bos = new ByteArrayOutputStream()
      ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val media = Seq(
      Multimodal.MediaRecord(1L, "image", png(20, 12, (_, _) => 0x336699)),
      Multimodal.MediaRecord(2L, "image", png(20, 12, (x, y) => (x * 31 + y) & 0xffffff))
    ).toDS()
    val feats = Multimodal.resizeFeatures(media, 8, 6)
      .collect().map(f => f.media_id -> f).toMap
    assert(feats(1L).width == 8 && feats(1L).height == 6 && feats(1L).channels == 3)
    // analytic expectation: a bilinear resample of a constant image is the
    // same constant, so the pixel-fold checksum is computable in closed form
    var acc = 0L
    for (_ <- 0 until 8 * 6) acc = (acc * 31 + 0x336699) % 1000000007L
    assert(feats(1L).checksum == acc,
      s"resized raster is not uniformly the source color: ${feats(1L)}")
    // a patterned source must NOT collapse to the solid checksum
    assert(feats(2L).checksum != acc, "pattern resized to a constant raster")
  }

  test("real video frame-sample: animated GIF demuxed with true pixel checksums") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.{IIOImage, ImageIO}
    import spark.implicits._
    // generate a real multi-frame GIF in-test (JDK sequence writer, no new
    // dependencies); solid primary colors survive GIF palettization exactly,
    // so the decoded-pixel checksum has a closed form
    val colors = Seq(0xff0000, 0x00ff00, 0x0000ff, 0xffffff, 0x000000)
    val (w, h) = (11, 7)
    def gif(cs: Seq[Int]): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(bos)
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      cs.foreach { c =>
        val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, c)
        writer.writeToSequence(new IIOImage(img, null, null), null)
      }
      writer.endWriteSequence(); writer.dispose(); ios.close()
      bos.toByteArray
    }
    val media = Seq(
      Multimodal.MediaRecord(1L, "video", gif(colors)),
      Multimodal.MediaRecord(2L, "video", "definitely not a container".getBytes("UTF-8"))
    ).toDS()
    val frames = Multimodal.sampleFrames(media, stride = 2).collect()
    val byKey = frames.map(f => (f.media_id, f.frame_idx) -> f).toMap
    // stride 2 over 5 real frames → sampled indices 0, 2, 4
    assert(frames.filter(_.media_id == 1L).map(_.frame_idx).sorted.toSeq == Seq(0, 2, 4))
    def solidChecksum(c: Int): Long =
      (0 until w * h).foldLeft(0L)((acc, _) => (acc * 31 + c) % 1000000007L)
    Seq(0, 2, 4).foreach { i =>
      val f = byKey((1L, i))
      assert(f.n_bytes == w.toLong * h * 3, s"frame $i: $f")
      assert(f.checksum == solidChecksum(colors(i)), s"frame $i pixel checksum: $f")
    }
    // non-container payload falls back to the deterministic chunk stub
    assert(byKey.contains((2L, 0)), "stub fallback dropped the non-GIF record")
  }

  test("exact-moment correlation agrees with Spark's built-in corr/covar_pop") {
    // the catalog entry exists because the BUILT-IN cannot be oracled
    // (one-pass float update formulas differ between engines); this pins
    // that the exact-moment closed form is the same statistic
    val manual = Aggregates.corrManual(spark, sf0001).collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Double]("corr_xy"), r.getAs[Double]("covar_pop"))).toMap
    val builtin = Tables.lineitem(spark, sf0001)
      .groupBy(col("l_returnflag"))
      .agg(corr(col("l_quantity"), col("l_extendedprice")).as("c"),
        covar_pop(col("l_quantity"), col("l_extendedprice")).as("cv"))
      .collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Double]("c"), r.getAs[Double]("cv"))).toMap
    assert(manual.keySet == builtin.keySet)
    // entry outputs are round-6 (cross-engine decimal→double rule), so
    // agreement is to rounding resolution, not ulps
    manual.foreach { case (k, (c, cv)) =>
      assert(math.abs(c - builtin(k)._1) < 1e-5, s"corr mismatch for $k")
      assert(math.abs(cv - builtin(k)._2) <= math.abs(builtin(k)._2) * 1e-6 + 1e-6,
        s"covar mismatch for $k")
    }
  }

  test("observe() collects data-quality metrics in the same pass as the query") {
    // production stance: pipeline health counters (row counts, null rates,
    // bounds violations) ride the existing action via CollectMetrics —
    // no second scan of a 100 TB input
    import org.apache.spark.sql.Observation
    val obs = Observation()
    val l = Tables.lineitem(spark, sf0001)
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("null_qty"),
        max(col("l_extendedprice")).as("max_price"))
      .filter(col("l_quantity") > 0)
    val kept = l.count()
    val m = obs.get
    assert(m("n_rows").asInstanceOf[Long] >= kept, m.toString)
    assert(m("null_qty").asInstanceOf[Long] == 0L, m.toString)
    assert(m("max_price").asInstanceOf[Double] > 0.0, m.toString)
  }

  test("frame sampling: only video rows, stride respected, deterministic") {
    val media = Multimodal.mediaTable(spark, sf0001)
    val frames = Multimodal.sampleFrames(media, stride = 2).toDF().cache()
    val kinds = media.toDF().select(col("media_id"), col("kind"))
    assert(frames.join(kinds, "media_id").filter(col("kind") =!= "video").count() == 0)
    assert(frames.filter(col("frame_idx") % 2 =!= 0).count() == 0, "stride violated")
    assert(frames.count() > 0)
    val again = Multimodal.sampleFrames(media, stride = 2).toDF()
    assert(frames.exceptAll(again).isEmpty && again.exceptAll(frames).isEmpty)
  }

  test("ccnet buckets: terciles partition the corpus and the reference language skews head") {
    val out = TextAnalysis.ccnetBuckets(spark, sf0001).cache()
    val byLang = out.collect().map(r =>
      (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    def n(b: String, l: String) = byLang.getOrElse((b, l), 0L)
    // the LM is fit ON the en slice, so en docs must score reference-like:
    // more en docs in head than tail, and every other language the reverse —
    // the signal CCNet buckets exist to surface, not just the plumbing
    assert(n("head", "en") > n("tail", "en"),
      s"en docs do not skew head: ${byLang.filter(_._1._2 == "en")}")
    Seq("de", "es", "fr", "zh").foreach { l =>
      assert(n("tail", l) > n("head", l),
        s"non-reference lang $l does not skew tail: ${byLang.filter(_._1._2 == l)}")
    }
    // bucket means must be ordered (terciles over the same score)
    val avg = out.groupBy(col("bucket"))
      .agg(((sum(col("avg_nll") * col("n_docs"))) / sum(col("n_docs"))).as("a"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(avg("head") < avg("middle") && avg("middle") < avg("tail"), avg.toString)
  }

  test("bpe round: greedy left-to-right overlap semantics on hand-built words") {
    import spark.implicits._
    // "aaaa" under merge (a,a) must become [aa][aa]; "aaa" must become
    // [aa][a] — the sequential greedy outcome, not all-overlapping-pairs
    val s = Seq(
      ("aaaa", 10L), ("aaa", 5L), ("ab", 1L)
    ).toDF("word", "cnt")
      .select(col("word"), col("cnt"),
        posexplode(transform(sequence(lit(1), length(col("word"))), i =>
          col("word").substr(i, lit(1)))))
      .select(col("word"), col("cnt"), (col("pos") + 1).as("pos"), col("col").as("sym"))
    val (best, next) = TextAnalysis.bpeRound(s)
    val b = best.collect().head
    assert((b.getString(0), b.getString(1), b.getLong(2)) == ("a", "a", 40L),
      s"winning pair wrong: $b") // aaaa:3 pairs x10 + aaa:2 x5 = 40
    val rewritten = next.orderBy(col("word"), col("pos")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getString(3)).toSeq).toMap
    assert(rewritten("aaaa") == Seq("aa", "aa"), rewritten("aaaa").toString)
    assert(rewritten("aaa") == Seq("aa", "a"), rewritten("aaa").toString)
    assert(rewritten("ab") == Seq("a", "b"), rewritten("ab").toString)
    next.unpersist()
  }

  test("bpe merges: symbol count shrinks by between half and all of the pair count") {
    val out = TextAnalysis.bpeMerges(spark, sf0001).orderBy(col("round")).collect()
    assert(out.length == 3)
    val s0 = Tables.documents(spark, sf0001)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .agg(sum(length(col("w")))).collect().head.getLong(0)
    var prev = s0
    out.foreach { r =>
      val (pc, after) = (r.getLong(3), r.getLong(4))
      val drop = prev - after
      // a != b merges remove exactly pc symbols; a == b overlap runs
      // remove at least ceil(pc/2) — anything outside is a rewrite bug
      assert(drop <= pc && drop * 2 >= pc,
        s"round ${r.getLong(0)}: drop $drop outside [pc/2, pc] for pc=$pc")
      prev = after
    }
  }

  test("bpe encode: learned subwords appear in the final vocabulary, mass conserved") {
    val vocab = TextAnalysis.bpeEncode(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val merges = TextAnalysis.bpeMerges(spark, sf0001).collect()
      .map(r => r.getString(1) + r.getString(2))
    // learned multi-char units must surface in the top vocabulary (the
    // top-15 cutoff can drop a low-count later merge, so gate existence,
    // not completeness) and nothing else multi-char can exist
    assert(merges.exists(vocab.contains), "no learned subword in the top vocabulary")
    val multi = vocab.keys.filter(_.length > 1)
    assert(multi.nonEmpty && multi.forall(merges.contains),
      s"multi-char tokens $multi not all from learned merges $merges")
    assert(vocab.values.forall(_ > 0))
  }

  test("psi drift: bins cover the table, terms are consistent, total is their sum") {
    val rows = Aggregates.psiDrift(spark, sf0001).collect()
    assert(rows.length == 10)
    val total = Tables.orders(spark, sf0001).count()
    assert(rows.map(r => r.getLong(1) + r.getLong(2)).sum == total,
      "bin counts do not partition the orders table")
    val sumTerms = rows.map(_.getDouble(5)).sum
    assert(math.abs(sumTerms - rows.head.getDouble(6)) < 1e-9,
      s"psi_total ${rows.head.getDouble(6)} != sum of terms $sumTerms")
    // PSI of a distribution against itself is 0; both windows non-empty
    // here, so every term must be finite and the total non-negative
    assert(rows.forall(r => !r.getDouble(5).isNaN && !r.getDouble(5).isInfinite))
    assert(rows.head.getDouble(6) >= 0.0)
  }

  test("k-anonymity audit: groups partition the table and flags match thresholds") {
    val out = Etl.kAnonymity(spark, sf0001).collect()
    val total = Tables.customer(spark, sf0001).count()
    assert(out.map(_.getLong(2)).sum == total, "group sizes do not partition the table")
    out.foreach { r =>
      assert(r.getBoolean(4) == (r.getLong(2) >= 8L), s"k flag wrong: $r")
      assert(r.getBoolean(5) == (r.getLong(3) >= 3L), s"l flag wrong: $r")
      assert(r.getLong(3) <= r.getLong(2), s"diversity exceeds group size: $r")
    }
  }

  test("windowed funnel: stages shrink and never exceed the unbounded twin") {
    val bounded = graft.operators.Behavior.funnelWindowed(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    val unbounded = graft.operators.Behavior.funnel(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(bounded.size == 3)
    // deadline can only remove conversions, never add them
    (1L to 3L).foreach { s =>
      assert(bounded(s)._1 <= unbounded(s), s"stage $s: deadline added users")
    }
    assert(bounded(1)._1 >= bounded(2)._1 && bounded(2)._1 >= bounded(3)._1,
      "funnel stages do not shrink")
    // step latencies respect the 24 h deadline
    assert(bounded(2)._2 <= 86400e6 && bounded(3)._2 <= 86400e6,
      "mean step latency exceeds the deadline")
  }

  test("rfm segments: cells partition customers and scores sit in 1..4") {
    val segs = graft.operators.Behavior.rfmSegments(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nCust = Tables.orders(spark, sf0001).select(col("o_custkey")).distinct().count()
    assert(segs.map(_._2).sum == nCust, "segment sizes do not partition the customers")
    segs.foreach { case (code, _) =>
      val (r, f, m) = (code / 100, code / 10 % 10, code % 10)
      assert(r >= 1 && r <= 4 && f >= 1 && f <= 4 && m >= 1 && m <= 4,
        s"segment code $code outside the 1..4 grid")
    }
    assert(segs.length > 1, "degenerate single-segment output")
  }

  test("survival curve: monotone, risk-set accounting exact, everyone leaves once") {
    val rows = graft.operators.Behavior.survivalCurve(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val nUsers = Tables.events(spark, sf0001).select(col("user_id")).distinct().count()
    assert(rows.map(r => r.getLong(2) + r.getLong(3)).sum == nUsers,
      "failed + censored does not partition the user set")
    assert(rows.head.getLong(1) == nUsers, "day-0 risk set != all users")
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getLong(1) == a.getLong(1) - a.getLong(2) - a.getLong(3),
          s"risk set not decremented by prior exits: $a -> $b")
        assert(b.getDouble(4) <= a.getDouble(4) + 1e-9, s"survival increased: $a -> $b")
      case _ => ()
    }
    assert(rows.forall(r => r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0))
  }

  test("geo grid join: 9-cell blocking is complete vs brute-force all-pairs") {
    val blocked = Joins.geoGridJoin(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // brute-force twin on the same deterministic points (no blocking)
    def u(tag: String) =
      (conv(substring(md5(concat(lit(tag), col("c_custkey").cast("string"))), 1, 8), 16, 10)
        .cast("long") + lit(1L)) / lit(4294967296.0) * lit(10.0)
    val pts = Tables.customer(spark, sf0001)
      .select(col("c_custkey").as("id"), u("lat:").as("x"), u("lon:").as("y"))
    val brute = pts.as("a").crossJoin(pts.as("b"))
      .filter(col("a.id") < col("b.id"))
      .withColumn("d2",
        (col("a.x") - col("b.x")) * (col("a.x") - col("b.x")) +
        (col("a.y") - col("b.y")) * (col("a.y") - col("b.y")))
      .filter(col("d2") <= 0.01)
      .select(col("a.id"), col("b.id"), col("d2"))
      .orderBy(col("d2"), col("a.id"), col("b.id")).limit(100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(blocked.nonEmpty, "no pairs within radius — fixture too sparse")
    assert(blocked.sameElements(brute),
      s"blocking missed or invented pairs: blocked=${blocked.length} brute=${brute.length}")
  }

  test("scd2 merge: no-op changes suppressed, real changes close-and-open contiguously") {
    val dim = Etl.scd2Merge(spark, sf0001).collect()
    val byKey = dim.groupBy(_.getLong(0))
    val nCust = Tables.customer(spark, sf0001).count()
    byKey.foreach { case (k, rows) =>
      if (k >= 1000000000L) {
        assert(rows.length == 1 && rows.head.getString(1) == "NEWSEG", s"new member $k wrong")
      } else if (k % 7 == 0 && k % 14 != 0) {
        // real change: exactly one closed + one open version, contiguous
        assert(rows.length == 2, s"changed member $k has ${rows.length} versions")
        val closed = rows.find(!_.isNullAt(3)).get
        val open = rows.find(_.isNullAt(3)).get
        assert(closed.getDate(3) == open.getDate(2),
          s"member $k: close date ${closed.getDate(3)} != open date ${open.getDate(2)}")
        assert(open.getString(1) == "MOVED")
      } else {
        // untouched or no-op change: the single original open version
        assert(rows.length == 1 && rows.head.isNullAt(3),
          s"member $k (no-op/untouched) got extra versions")
      }
    }
    val changed = byKey.keys.count(k => k < 1000000000L && k % 7 == 0 && k % 14 != 0)
    assert(dim.length == nCust + changed + byKey.keys.count(_ >= 1000000000L))
  }

  test("dp counts: replayable Laplace noise, clamped release, bounded perturbation") {
    val out = Aggregates.dpCounts(spark, sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, noise, rel) = (r.getLong(1), r.getDouble(2), r.getLong(3))
      // inverse-CDF bound: |noise| = b·|ln(2u)| with u on a 2^-32 lattice
      assert(math.abs(noise) < 23.0, s"noise outside Laplace support: $r")
      assert(rel == math.max(0L, math.round(n + noise)), s"release rule violated: $r")
    }
    assert(out.exists(r => math.abs(r.getDouble(2)) > 1e-6), "all noise exactly zero")
    // determinism: the draw is a pure function of the data
    val again = Aggregates.dpCounts(spark, sf0001).collect()
    assert(out.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("relational LR learns a real separator, not the majority class") {
    // 3 GD steps on standardized features must beat the base rate by a
    // wide margin AND predict both classes — the degenerate all-negative
    // model (which unstandardized GD produces) scores ~51% here
    for (dir <- Seq(sf0001, "/root/testdata/sf0.01")) {
      val r = TextAnalysis.qualityLr(spark, dir).collect()(0)
      val (nDocs, nPos, nPred, nCorrect) =
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_pos_label"),
          r.getAs[Long]("n_pos_pred"), r.getAs[Long]("n_correct"))
      assert(nCorrect.toDouble / nDocs >= 0.85,
        s"accuracy ${nCorrect.toDouble / nDocs} at $dir")
      assert(nPred > 0 && nPred < nDocs, s"one-class predictor at $dir")
      assert(nPos > 0 && nPos < nDocs, s"degenerate label at $dir")
      // the learned direction: lexical diversity anticorrelates with length
      assert(r.getAs[Double]("w1") < -0.5, s"w1 ${r.getAs[Double]("w1")} at $dir")
    }
  }

  test("linear attribution conserves credit exactly and buckets touchless purchases") {
    import graft.operators.Behavior
    val totalMicro = graft.Tables.events(spark, sf0001)
      .filter(col("event_type") === "purchase")
      .select((floor(col("value") * 100).cast("long") * 1000000L).as("m"))
      .agg(sum(col("m"))).collect()(0).getLong(0)
    val rows = Behavior.linearAttribution(spark, sf0001).collect()
    // the reconciliation property: per-channel credit sums to EXACTLY the
    // purchased total — integer DIV splitting with the remainder pinned to
    // the most recent touch loses nothing
    assert(rows.map(_.getAs[Long]("credit_micro")).sum == totalMicro,
      "credit not conserved across channels")
    val channels = rows.map(_.getAs[String]("channel")).toSet
    assert(channels.subsetOf(Set("click", "view", "none")), s"channels $channels")
  }

  test("cdc apply: max-lsn wins, deletes remove, redelivery is idempotent") {
    val base = graft.Tables.orders(spark, sf0001)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val out = Etl.cdcApply(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    base.keys.foreach { k =>
      if (k % 11 == 0) // delete wins over any same-key updates
        assert(!out.contains(k), s"deleted key $k survived")
      else if (k % 7 == 0) // the lsn-2 update supersedes lsn-1 (both kinds)
        assert(out(k) == base(k) + 2.0,
          s"superseded update leaked through for $k: ${out(k)}")
      else if (k % 13 == 0) // shipped twice at lsn 1 — applied exactly once
        assert(out(k) == base(k) + 5.0,
          s"redelivered change misapplied for $k: ${out(k)}")
      else assert(out(k) == base(k), s"untouched key $k changed")
    }
    // no phantom keys: output ⊆ base keys (this log inserts nothing)
    assert(out.keySet.subsetOf(base.keySet))
  }

  test("threshold sweep: a proper monotone survival curve that covers the corpus") {
    val rows = TextAnalysis.thresholdSweep(spark, sf0001).collect()
    assert(rows.length >= 3, "degenerate sweep — corpus scored into <3 buckets")
    // ascending thresholds must keep monotonically FEWER docs and words,
    // the lowest threshold must keep the whole (non-empty-doc) corpus
    // (share = 10000 bp), and each kept count must equal the sum of the
    // bins at or above that threshold — the cumulative window done right
    val byThr = rows.sortBy(_.getAs[Long]("thr_milli"))
    byThr.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo.getAs[Long]("n_docs_kept") >= hi.getAs[Long]("n_docs_kept"))
      assert(lo.getAs[Long]("n_words_kept") >= hi.getAs[Long]("n_words_kept"))
      assert(lo.getAs[Long]("n_docs_kept") ==
        hi.getAs[Long]("n_docs_kept") + lo.getAs[Long]("n_docs_bin"))
    }
    assert(byThr.head.getAs[Long]("kept_share_bp") == 10000L)
    assert(byThr.head.getAs[Long]("n_docs_kept") ==
      rows.map(_.getAs[Long]("n_docs_bin")).sum)
  }

  test("hybrid rrf: per-query fusion of both arms with exact integer scores") {
    val out = Similarity.hybridRrf(spark, sf0001).cache()
    val rows = out.collect()
    val qs = rows.map(_.getLong(0)).distinct
    assert(qs.length == 20, s"expected 20 queries, got ${qs.length}")
    assert(rows.length == 200, s"expected 20x10 fused rows, got ${rows.length}")
    // rrf_micro must equal the integer-micro sum of its rank reciprocals
    rows.foreach { r =>
      val lex = if (r.isNullAt(2)) 0L else 1000000L / (60L + r.getLong(2))
      val den = if (r.isNullAt(3)) 0L else 1000000L / (60L + r.getLong(3))
      assert(r.getLong(4) == lex + den, s"rrf mismatch: $r")
    }
    // fusion is real: each arm contributes rows the other does not
    assert(rows.exists(_.isNullAt(2)), "no dense-only rows — lexical arm swallowed fusion")
    assert(rows.exists(_.isNullAt(3)), "no lex-only rows — dense arm swallowed fusion")
    // ranks are a proper per-query permutation prefix
    qs.foreach { q =>
      val rns = rows.filter(_.getLong(0) == q).map(_.getLong(5)).sorted
      assert(rns.sameElements(1L to 10L), s"q=$q fused ranks $rns")
    }
  }

  test("goertzel tone detection: 9x dominance margin and javax.sound parse agreement") {
    import graft.operators.Multimodal
    Seq(0L, 1L, 2L, 3L, 17L, 38L).foreach { id =>
      val n = (256 + id % 128).toInt
      val p = Multimodal.tonePeriod(id)
      val wav = Multimodal.squareWav(id, n, 8000, p)
      val (rate, xs) = Multimodal.pcm16Samples(wav).get
      assert(rate == 8000 && xs.length == n)
      // second parse path: the JDK's own WAV reader must yield identical samples
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(wav))
      val buf = ais.readAllBytes()
      assert(buf.length == n * 2)
      (0 until n).foreach { i =>
        val s = ((buf(2 * i) & 0xff) | (buf(2 * i + 1) << 8)).toShort
        assert(s == xs(i), s"sample $i: javax $s vs strict-walk ${xs(i)}")
      }
      // detection is structural: the planted period's power dominates every
      // other candidate by at least the odd-harmonic bound (~9x; leakage
      // from partial cycles erodes it, so pin 4x)
      val powers = Multimodal.TonePeriods.map(c => c -> Multimodal.goertzelPower(xs, c)).toMap
      val best = powers(p)
      powers.filter(_._1 != p).foreach { case (c, pw) =>
        assert(best > 4.0 * pw, s"id $id period $p vs candidate $c: $best vs $pw")
      }
    }
  }

  test("goertzel detection equals a brute-force DFT-bin argmax") {
    // second implementation: the direct DFT projection Σ x·e^{-iwn}
    // (two running sums), not the Goertzel recurrence
    def dftPower(x: Array[Short], p: Int): Double = {
      val w = 2.0 * math.Pi / p
      var re = 0.0; var im = 0.0
      var i = 0
      while (i < x.length) {
        re += x(i) * math.cos(w * i); im -= x(i) * math.sin(w * i)
        i += 1
      }
      re * re + im * im
    }
    Seq(0L, 1L, 2L, 3L, 21L, 46L, 103L).foreach { id =>
      val n = (256 + id % 128).toInt
      val planted = Multimodal.tonePeriod(id)
      val wav = Multimodal.squareWav(id, n, 8000, planted)
      val (_, xs) = Multimodal.pcm16Samples(wav).get
      val viaDft = Multimodal.TonePeriods.maxBy(dftPower(xs, _))
      val viaGoertzel = Multimodal.TonePeriods.maxBy(Multimodal.goertzelPower(xs, _))
      assert(viaDft == planted && viaGoertzel == planted,
        s"id $id: planted $planted, dft $viaDft, goertzel $viaGoertzel")
      // the two formulations agree on the whole power ranking, not just argmax
      val rankG = Multimodal.TonePeriods.sortBy(p => -Multimodal.goertzelPower(xs, p)).toSeq
      val rankD = Multimodal.TonePeriods.sortBy(p => -dftPower(xs, p)).toSeq
      assert(rankG == rankD, s"id $id ranking: goertzel $rankG vs dft $rankD")
    }
  }

  test("mm_audio_rms_windows equals a javax.sound second-parse window recompute") {
    import javax.sound.sampled.AudioSystem
    val got = Multimodal.queries("mm_audio_rms_windows")(spark, sf0001)
      .collect()
      .map(r => (r.getAs[Long]("media_id"), r.getAs[Long]("win")) ->
        ((r.getAs[Long]("n_samp"), r.getAs[Long]("sum_abs"),
          r.getAs[Long]("sum_sq"), r.getAs[Long]("active")))).toMap
    assert(got.nonEmpty)
    val ids = got.keys.map(_._1).toSeq.distinct.sorted.take(6)
    for (id <- ids) {
      val bytes = Multimodal.envelopedWav(id, (256 + id % 128).toInt, 8000)
      val ais = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      assert(ais.getFormat.getSampleSizeInBits == 16 &&
        ais.getFormat.getChannels == 1 && !ais.getFormat.isBigEndian)
      val raw = ais.readAllBytes()
      val xs = Array.tabulate(raw.length / 2)(i =>
        (((raw(2 * i + 1) & 0xff) << 8) | (raw(2 * i) & 0xff)).toShort)
      for (w <- 0 until (xs.length + 63) / 64) {
        val s = w * 64; val e = math.min(s + 64, xs.length)
        val slice = xs.slice(s, e).map(_.toLong)
        val sa = slice.map(math.abs).sum
        val sq = slice.map(v => v * v).sum
        val active = if (sq > 1000000L) 1L else 0L
        assert(got((id, w.toLong)) == ((e - s).toLong, sa, sq, active),
          s"id=$id win=$w")
      }
      // the planted silence actually exists and the gate detects it
      assert(got.exists { case ((i2, _), (_, _, _, a)) => i2 == id && a == 0L })
      assert(got.exists { case ((i2, _), (_, _, _, a)) => i2 == id && a == 1L })
    }
  }
}
