package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  private def payload(s: String) = s.getBytes("UTF-8")

  private def media = {
    import spark.implicits._
    Seq(
      (0L, "image", Multimodal.encodePng(payload("abcdefgh"))),
      (1L, "audio", Multimodal.encodeWav(payload("qrs"))),
      (2L, "video", Multimodal.encodeVideo(payload("x" * 9000))))
      .toDF("media_id", "modality", "payload")
  }

  test("PNG round trip is lossless: ImageIO decodes the exact dimensions " +
      "and sample sum the encoder laid out") {
    val bytes = payload("hello world, png round trip")
    val png = Multimodal.encodePng(bytes)
    // a REAL container, not a passthrough: PNG magic, different bytes
    assert(png.take(4).toSeq == Seq[Byte](0x89.toByte, 'P', 'N', 'G'))
    val (w, h, sum) = Multimodal.decodeImage(png)
    val expectW = math.ceil(math.sqrt(bytes.length.toDouble)).toInt
    assert(w == expectW && h == (bytes.length + w - 1) / w)
    assert(sum == bytes.map(_ & 0xff).map(_.toLong).sum,
      "gray-8 PNG must round-trip the samples exactly")
  }

  test("WAV round trip is lossless: AudioSystem decodes the exact frame " +
      "count and sample sum") {
    val bytes = payload("pcm frames")
    val wav = Multimodal.encodeWav(bytes)
    assert(new String(wav.take(4), "US-ASCII") == "RIFF")
    val (frames, sum) = Multimodal.decodeAudio(wav)
    assert(frames == bytes.length.toLong)
    assert(sum == bytes.map(_ & 0xff).map(_.toLong).sum)
  }

  test("GVF1 round trip: chunked PNG frames decode to the exact per-frame " +
      "dims and total sample sum; empty payload carries one 1x1 frame") {
    val bytes = payload("v" * 9000) // 2 full chunks + 808-byte tail
    val gvf = Multimodal.encodeVideo(bytes)
    assert(Multimodal.isGvf1(gvf))
    val frames = Multimodal.decodeVideo(gvf)
    assert(frames.length == 3)
    assert(frames(0)._1 == 64 && frames(0)._2 == 64)
    assert(frames(1)._1 == 64 && frames(1)._2 == 64)
    val tail = 9000 - 2 * 4096
    val tw = math.ceil(math.sqrt(tail.toDouble)).toInt
    assert(frames(2)._1 == tw && frames(2)._2 == (tail + tw - 1) / tw)
    assert(frames.map(_._3.map(_.toLong).sum).sum ==
      bytes.map(_ & 0xff).map(_.toLong).sum,
      "padding pixels are zero, so the container round-trips the byte sum")
    val empty = Multimodal.decodeVideo(Multimodal.encodeVideo(Array.emptyByteArray))
    assert(empty.length == 1 && empty.head._1 == 1 && empty.head._2 == 1)
  }

  test("extractFeatures decodes image/audio/GVF1-video through the real " +
      "codecs; non-GVF1 video keeps NULL decoded columns") {
    import spark.implicits._
    val withRaw = media.union(
      Seq((3L, "video", payload("not a container"))) // legacy raw bytes
        .toDF("media_id", "modality", "payload"))
    val out = Multimodal.extractFeatures(withRaw)
    assert(out.columns.toSeq == Seq("media_id", "modality", "n_samples",
      "width", "height", "sample_sum", "feature", "decode_ok"))
    val rows = out.collect().sortBy(_.media_id)
    assert(rows.length == 4 && rows.forall(_.decode_ok))
    // image: 8 bytes → 3x3 raster (9 samples incl. padding)
    assert(rows(0).width.contains(3L) && rows(0).height.contains(3L))
    assert(rows(0).n_samples == 9L)
    assert(rows(0).sample_sum.contains(payload("abcdefgh").map(_ & 0xff).map(_.toLong).sum))
    // audio: 3 PCM frames
    assert(rows(1).n_samples == 3L && rows(1).width.isEmpty)
    assert(rows(1).sample_sum.contains(payload("qrs").map(_ & 0xff).map(_.toLong).sum))
    // GVF1 video: decoded pixels across frames (2 full 64x64 + tail)
    val tail = 9000 - 2 * 4096
    val tw = math.ceil(math.sqrt(tail.toDouble)).toInt
    assert(rows(2).n_samples == 2L * 4096 + tw.toLong * ((tail + tw - 1) / tw))
    assert(rows(2).sample_sum.contains(('x' & 0xff).toLong * 9000))
    assert(rows(2).width.isEmpty && rows(2).height.isEmpty)
    // non-GVF1 video: no decoder claimed — NULLs, raw byte count
    assert(rows(3).n_samples == 15L && rows(3).sample_sum.isEmpty)
    // determinism: same payload → same decoded feature
    val again = Multimodal.extractFeatures(withRaw).collect().sortBy(_.media_id)
    assert(rows(0).feature.toSeq == again(0).feature.toSeq)
    assert(rows(0).feature.exists(_ > 0f), "decoded image samples feed the profile")
    assert(rows(2).feature.exists(_ > 0f), "decoded video frames feed the profile")
  }

  test("an undecodable payload is contained as one decode_ok=false row, " +
      "never a failed job") {
    import spark.implicits._
    val corrupt = Seq(
      (0L, "image", Array[Byte](1, 2, 3)),
      (1L, "audio", Array[Byte](9, 9)),
      (2L, "video", "GVF1".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 9)),
      (3L, "image", Multimodal.encodePng(payload("fine"))))
      .toDF("media_id", "modality", "payload")
    val rows = Multimodal.extractFeatures(corrupt).collect().sortBy(_.media_id)
    assert(rows.length == 4)
    assert(!rows(0).decode_ok && rows(0).n_samples == 0L && rows(0).sample_sum.isEmpty)
    assert(!rows(1).decode_ok && !rows(2).decode_ok)
    assert(rows(3).decode_ok && rows(3).n_samples == 4L)
  }

  test("size-aware rebalance: uniform blobs at full parallelism decode with " +
      "NO extra shuffle of the media bytes; a narrow or skewed input spreads") {
    import spark.implicits._
    // uniform AND already at core-count parallelism: the input's own
    // repartition is the only Exchange — extractFeatures adds none (the
    // 100 TB property: a corpus arriving in >= cores splits never moves)
    val wide = media.repartition(spark.sparkContext.defaultParallelism)
    val planUniform = Multimodal.extractFeatures(wide)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(planUniform).length
    assert(exchanges == 1,
      s"uniform at-parallelism blobs must not shuffle payload bytes " +
      s"(only the fixture's own repartition may appear):\n$planUniform")
    // NARROW input (fewer partitions than cores): the compute-dense
    // decode must spread — r17, the sf-scale corpus arrives in 1-4
    // splits and single-threaded every codec otherwise
    val narrow = Multimodal.extractFeatures(media.coalesce(1))
    assert(narrow.queryExecution.executedPlan.toString.contains("Exchange"),
      "a narrow input must rebalance to core-count parallelism")
    assert(narrow.collect().length == media.count(),
      "the narrow spread preserves every row")
    // skew fixture: everything on one partition, threshold forced low
    val skewed = Seq.tabulate(8)(i =>
      (i.toLong, "image", Multimodal.encodePng(payload("p" * 2000))))
      .toDF("media_id", "modality", "payload").coalesce(1)
    val ds = Multimodal.extractFeatures(skewed, skewThresholdBytes = 64L)
    assert(ds.queryExecution.executedPlan.toString.contains("Exchange"),
      "a partition above the threshold and its fair share must rebalance")
    assert(ds.collect().length == 8, "the spread preserves every row")
  }

  test("sampleFrames: GVF1-only row explosion with REAL per-frame dims " +
      "parsed from the container by native expressions (no UDF)") {
    import spark.implicits._
    // 11 frames: 10 full chunks + 1536-byte tail → sampled j = 0, 10
    val long = Seq((7L, "video", Multimodal.encodeVideo(payload("z" * 42496))),
      (8L, "video", payload("raw, not a container")),
      (9L, "image", Multimodal.encodePng(payload("img"))))
      .toDF("media_id", "modality", "payload")
    val out = Multimodal.sampleFrames(long, stride = 10, maxFrames = 16)
    assert(!out.queryExecution.executedPlan.toString.contains("BatchEvalPython"))
    val rows = out.collect()
    assert(rows.forall(_.getAs[Long]("media_id") == 7L),
      "only decodable GVF1 video explodes into frames")
    assert(rows.map(_.getAs[Long]("frame_idx")).sorted.toSeq == Seq(0L, 10L))
    assert(rows.forall(_.getAs[Long]("n_frames") == 11L))
    val byIdx = rows.map(r => r.getAs[Long]("frame_idx") ->
      (r.getAs[Long]("frame_w"), r.getAs[Long]("frame_h"))).toMap
    assert(byIdx(0L) == (64L, 64L), "full chunks are exact 64x64 rasters")
    val tail = 42496 - 10 * 4096 // 1536
    val tw = math.ceil(math.sqrt(tail.toDouble)).toLong
    assert(byIdx(10L) == (tw, (tail + tw - 1) / tw),
      "the tail frame's IHDR dims come from the real PNG bytes")
  }

  test("syntheticMedia assigns modalities by id and round-trips text through " +
      "the real containers") {
    import spark.implicits._
    val docs = Seq((0L, "alpha"), (1L, "beta"), (2L, "gamma")).toDF("doc_id", "text")
    val out = Multimodal.syntheticMedia(docs).orderBy("media_id").collect()
    assert(out.map(_.getAs[String]("modality")).toSeq == Seq("image", "audio", "video"))
    assert(out.map(_.getAs[String]("mime")).toSeq ==
      Seq("image/png", "audio/wav", "video/x-gvf1"))
    // image payload is a PNG whose decoded samples are the text bytes
    val (w, h, sum) = Multimodal.decodeImage(out(0).getAs[Array[Byte]]("payload"))
    assert(w * h >= 5 && sum == payload("alpha").map(_ & 0xff).map(_.toLong).sum)
    // audio payload is a WAV whose frames are the text bytes
    val (frames, asum) = Multimodal.decodeAudio(out(1).getAs[Array[Byte]]("payload"))
    assert(frames == 4L && asum == payload("beta").map(_ & 0xff).map(_.toLong).sum)
    // video payload is a GVF1 container whose frames decode to the text
    val vf = Multimodal.decodeVideo(out(2).getAs[Array[Byte]]("payload"))
    assert(vf.length == 1 &&
      vf.head._3.map(_.toLong).sum == payload("gamma").map(_ & 0xff).map(_.toLong).sum)
  }

  test("metaTrust memo: bounded per-source generations — two live snapshots " +
      "coexist (no thrash) and the slot never grows past the bound") {
    val withMeta = media.withColumn("payload_bytes", length(col("payload")))
    val src = s"memo-src-${System.nanoTime()}" // unique: the memo is JVM-global
    def call(gen: String): Unit = {
      Multimodal.extractFeatures(withMeta, metaTrustKey = Some(s"$src@$gen")).collect()
      ()
    }
    call("g1"); call("g2")
    // both generations cached under ONE source slot — a pre/post
    // re-ingest comparison alternating snapshots must hit, not thrash
    // the slot back into a per-call spot-check job (review r17)
    val both = Multimodal.metaTrustSnapshot(src)
    assert(both.map(_._1).toSet == Set(s"$src@g1", s"$src@g2"), s"got $both")
    assert(both.forall(_._2), "correct payload_bytes must be trusted")
    // cycling generations stays bounded, evicting oldest-first
    (3 to 7).foreach(i => call(s"g$i"))
    val after = Multimodal.metaTrustSnapshot(src)
    assert(after.length == 4, s"slot must stay bounded: $after")
    assert(after.last._1 == s"$src@g7" && !after.exists(_._1 == s"$src@g1"),
      s"newest kept, oldest evicted: $after")
  }

  test("successive WAV decodes stay exact, and a non-audio payload between " +
      "them throws without changing the next decode") {
    val a = payload("first wav")
    val b = payload("second wav, longer payload")
    assert(Multimodal.decodeAudio(Multimodal.encodeWav(a)) ==
      (a.length.toLong, a.map(_ & 0xff).map(_.toLong).sum))
    assert(Multimodal.decodeAudio(Multimodal.encodeWav(b)) ==
      (b.length.toLong, b.map(_ & 0xff).map(_.toLong).sum))
    // a non-audio payload walks the full provider list and throws
    // (contained per-row by callers)
    intercept[Exception](Multimodal.decodeAudio(payload("not audio at all")))
    // and a WAV after the rejection still decodes exactly
    assert(Multimodal.decodeAudio(Multimodal.encodeWav(a))._1 == a.length.toLong)
  }

  test("an audio payload decodes the same whichever rows were decoded " +
      "before it: one fixed provider order for every row") {
    def encode(bytes: Array[Byte], kind: javax.sound.sampled.AudioFileFormat.Type) = {
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 8, 1, true, false)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(bytes), fmt, bytes.length.toLong), kind, out)
      out.toByteArray
    }
    val wav = Multimodal.encodeWav(payload("a wav payload"))
    val rows = Seq(
      wav,
      encode(payload("au audio"), javax.sound.sampled.AudioFileFormat.Type.AU),
      wav.take(30), // a WAV header cut short
      payload("not audio at all"),
      encode(payload("aiff audio"), javax.sound.sampled.AudioFileFormat.Type.AIFF),
      Array[Byte](9, 9))
    def outcomes(order: Seq[Int]): Map[Int, Option[(Long, Long)]] =
      order.map(i => i -> scala.util.Try(Multimodal.decodeAudio(rows(i))).toOption).toMap
    val forward = outcomes(rows.indices)
    assert(forward(0).isDefined && forward(3).isEmpty && forward(5).isEmpty, s"$forward")
    assert(outcomes(rows.indices.reverse) == forward)
    assert(outcomes(Seq(2, 3, 5, 0, 1, 4)) == forward)
  }

  test("decodeImage falls back to format-sniffing ImageIO for non-PNG " +
      "images (ADVICE r17: the per-thread PNG reader must not narrow the " +
      "public decode contract) and reads band 0 of non-gray rasters " +
      "through the per-pixel path") {
    // a real JPEG through the public API: the PNG reader rejects it, the
    // sniffing fallback decodes it (lossy, so pin dimensions only)
    val src = new java.awt.image.BufferedImage(5, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 4).foreach(y => (0 until 5).foreach(x => src.setRGB(x, y, 0x336699)))
    val jpegBos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(src, "jpeg", jpegBos))
    val (jw, jh, _) = Multimodal.decodeImage(jpegBos.toByteArray)
    assert(jw == 5 && jh == 4, "a JPEG payload must still decode")
    // a non-gray PNG exercises the per-pixel fallback (multi-band raster):
    // band 0 is the red channel, summed exactly
    val pngBos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(src, "png", pngBos))
    val (pw, ph, psum) = Multimodal.decodeImage(pngBos.toByteArray)
    assert(pw == 5 && ph == 4)
    assert(psum == 20L * 0x33, "band 0 (red) of every pixel, exact")
    // garbage still fails the decode contract
    intercept[Exception](Multimodal.decodeImage(payload("not an image")))
  }
}
