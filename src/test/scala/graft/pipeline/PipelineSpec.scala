package graft.pipeline

import org.apache.spark.sql.functions._
import graft.dsq.SparkSpec

/** Correctness specs for the training-data pipeline operators, on the
  * driver's sf0.001 tables (real inputs, planted perturbations).
  */
class PipelineSpec extends SparkSpec {
  val sf = "/root/testdata/sf0.001"

  private def docs = spark.read.parquet(s"$sf/documents.parquet")
    .select("doc_id", "text")
  private def vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    .select("vec_id", "embedding")

  test("exact dedup finds planted exact duplicates") {
    val planted = docs.unionAll(docs.limit(5)
      .select((col("doc_id") + 9000).as("doc_id"), col("text")))
    val out = Dedup.exact(planted, "doc_id", "text")
    assert(out.count() == docs.count()) // 5 dup contents collapse
    assert(out.filter(col("dupes") >= 2).count() >= 5)
  }

  test("lmScore: hand-computed corpus DF means") {
    import spark.implicits._
    val d = Seq((1L, "a b"), (2L, "a c")).toDF("doc_id", "text")
    val out = TextAnalysis.lmScore(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // df: a=2, b=1, c=1 → both docs score (ln 2 + ln 1)/2
    val want = BigDecimal(math.log(2) / 2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) == ((2L, want)))
    assert(out(2L) == ((2L, want)))
  }

  test("containment catches a full-quote subset pair Jaccard misses") {
    import spark.implicits._
    val small = "alpha beta gamma delta epsilon zeta"
    val filler = (1 to 60).map(i => s"tok$i").mkString(" ")
    val d = Seq((1L, small), (2L, s"$filler $small")).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(d, n = 5, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    // small doc (2 shingles) fully contained in big → containment 1.0
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
    // symmetric Jaccard on the same shingles is far below the threshold
    val j = Dedup.ngramJaccardPairs(d, "doc_id", "text", n = 4,
      threshold = 0.8)
    assert(j.count() == 0)
  }

  test("containment recalls every planted superset copy") {
    val planted = docs.unionAll(docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" appended")).as("text")))
    val got = Dedup.containmentPairs(planted, n = 5, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    docs.filter(col("doc_id") % 10 === 0).select("doc_id").collect()
      .map(_.getLong(0)).foreach { id =>
        assert(got.contains((id, id + 1000000)), s"orig-in-copy $id missed")
      }
  }

  test("minhash LSH finds planted near-duplicates") {
    val plantedIds = docs.filter(col("doc_id") % 10 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val planted = docs.unionAll(docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" appended")).as("text")))
    val pairs = Dedup.minhashPairs(planted, "doc_id", "text",
      k = 64, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted (x, x+1e6) pair must surface
    val found = plantedIds.count(id => pairs.contains((id, id + 1000000)))
    assert(found == plantedIds.size,
      s"found only $found of ${plantedIds.size} planted pairs")
  }

  test("simhash hamming distance is computed correctly") {
    val planted = docs.limit(20).unionAll(docs.limit(20)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
    // identical text → identical simhash → hamming 0
    val pairs = Dedup.simhashPairs(planted, "doc_id", "text", maxHamming = 3)
      .filter(col("id_b") === col("id_a") + 1000000)
    assert(pairs.count() == 20)
    assert(pairs.filter(col("hamming") === 0).count() == 20)
  }

  test("DHash64: DataFrame (codegen) path replays the integer pool " +
      "arithmetic; invariant to positive luma rescale; short input is 0") {
    import spark.implicits._
    val rnd = new scala.util.Random(186)
    val w = 20; val h = 16
    val gray = Array.fill(w * h)(rnd.nextInt(256000))
    def replay(g: Array[Int]): Long = {
      val sums = Array.ofDim[Long](8, 9)
      val cnts = Array.ofDim[Long](8, 9)
      for (by <- 0 until 8; bx <- 0 until 9) {
        val xLo = bx * w / 9; val xHi = (bx + 1) * w / 9
        val yLo = by * h / 8; val yHi = (by + 1) * h / 8
        for (y <- yLo until yHi; x <- xLo until xHi)
          sums(by)(bx) += g(y * w + x)
        cnts(by)(bx) = (yHi - yLo).toLong * (xHi - xLo)
      }
      var out = 0L
      for (by <- 0 until 8; bx <- 0 until 8)
        if (sums(by)(bx) * cnts(by)(bx + 1) >
            sums(by)(bx + 1) * cnts(by)(bx)) out |= 1L << (by * 8 + bx)
      out
    }
    def viaDf(g: Array[Int]): Long =
      Seq((g.toSeq, w, h)).toDF("gray", "w", "h")
        .select(org.apache.spark.sql.graft.VectorExpressions
          .dhash64(col("gray"), col("w"), col("h")).as("dh"))
        .head().getLong(0)
    assert(viaDf(gray) == replay(gray))
    // brightness compares are ratio compares → any positive rescale of
    // the luma (a different gray formula, a different bit depth) keeps
    // every bit
    assert(viaDf(gray.map(_ * 3)) == viaDf(gray))
    // out-of-spec input (fewer than w·h pixels) hashes to 0, not a crash
    assert(viaDf(gray.take(10)) == 0L)
  }

  test("hammingPairs multi-block (m=3) returns exactly the brute-force " +
      "hamming<=k pair set on random sigs with planted near-misses") {
    import spark.implicits._
    val rnd = new scala.util.Random(187)
    val k = 8
    val base = (1L to 120L).map(id => (id, rnd.nextLong()))
    // planted: exact dup, distance exactly k (boundary), distance k+1
    // (must NOT surface)
    def flip(s: Long, bits: Int): Long = {
      var v = s
      rnd.shuffle((0 until 64).toList).take(bits)
        .foreach(b => v ^= 1L << b)
      v
    }
    val planted = base.take(30).zipWithIndex.map { case ((id, s), i) =>
      (id + 1000, flip(s, (i % 3) match {
        case 0 => 0; case 1 => k; case _ => k + 1
      }))
    }
    val all = base ++ planted
    val got = graft.pipeline.Dedup.hammingPairs(
      all.toDF("id", "sig"), maxHamming = k, multiIndex = 3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      i <- all.indices; j <- 0 until i
      if java.lang.Long.bitCount(all(i)._2 ^ all(j)._2) <= k
    } yield (math.min(all(i)._1, all(j)._1),
      math.max(all(i)._1, all(j)._1))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    assert(want.size >= 20, "fixture degenerate: too few true pairs")
    // maxHamming=0 (exact-signature pairs, one full-width chunk) must
    // keep working — the multi-block require once rejected it
    val exact = graft.pipeline.Dedup.hammingPairs(
      all.toDF("id", "sig"), maxHamming = 0)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantExact = (for {
      i <- all.indices; j <- 0 until i
      if all(i)._2 == all(j)._2
    } yield (math.min(all(i)._1, all(j)._1),
      math.max(all(i)._1, all(j)._1))).toSet
    assert(exact == wantExact && wantExact.nonEmpty)
  }

  test("perceptualPairs: a 2x resize and a JPEG requantization pair " +
      "with their source picture; different pictures never pair") {
    import spark.implicits._
    val seeds = (0 until 40).map(i => (i * 4).toLong)
    def gen(offset: Long, fmt: String, scale: Int) =
      graft.pipeline.Multimodal.withSmoothMedia(
        seeds.map(s => (s + offset, s)).toDF("doc_id", "seed"),
        "seed", fmt, scale).select("doc_id", "media")
    val media = gen(0L, "png", 1)
      .unionAll(gen(1000000L, "png", 2))
      .unionAll(gen(2000000L, "jpg", 1))
    val pairs = Dedup.perceptualPairs(media, "doc_id", "media",
      maxHamming = 8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // soundness: every surfaced pair is the SAME picture (same seed) —
    // cross-picture hashes sit ≥ 11 bits apart at this density
    pairs.foreach { case (a, b) =>
      assert(a % 1000000 == b % 1000000, s"cross-picture pair ($a, $b)")
    }
    // recall: both planted variants of every seed pair with the original
    val set = pairs.toSet
    seeds.foreach { s =>
      assert(set.contains((s, s + 1000000)), s"resize pair missing for $s")
      assert(set.contains((s, s + 2000000)), s"jpeg pair missing for $s")
    }
  }

  test("perceptual margin bands hold under THIS JDK's image codecs " +
      "(resize<=8, jpeg<=3, cross-seed>=11) — diagnostic on codec drift") {
    // The p186/p187/p189/s47 gates rest on empirically measured hamming
    // margins produced by the running JDK's ImageIO PNG/JPEG codecs
    // (r12 advice): a different JDK's JPEG quantization tables or
    // chroma handling could shift distances past the ≤8 / ≥11 band.
    // This spec re-measures the margins on a 60-seed sample so codec
    // drift fails HERE with the actual numbers, not as a bare oracle
    // hash mismatch in the driver run.
    import spark.implicits._
    val seeds = (0 until 60).map(i => (i * 4).toLong)
    def sigs(fmt: String, scale: Int): Map[Long, Long] =
      graft.pipeline.Multimodal.withDecodedGray(
        graft.pipeline.Multimodal.withSmoothMedia(
          seeds.map(s => (s, s)).toDF("doc_id", "seed"),
          "seed", fmt, scale).select("doc_id", "media"), "media")
        .select(col("doc_id"),
          org.apache.spark.sql.graft.VectorExpressions.dhash64(
            col("gray"), col("img_w"), col("img_h")).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = sigs("png", 1)
    val resized = sigs("png", 2)
    val jpeg = sigs("jpg", 1)
    def d(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val maxResize = seeds.map(s => d(base(s), resized(s))).max
    val maxJpeg = seeds.map(s => d(base(s), jpeg(s))).max
    val minCross = (for {
      i <- seeds.indices; j <- 0 until i
    } yield d(base(seeds(i)), base(seeds(j)))).min
    val diag = s"measured margins under JDK " +
      s"${System.getProperty("java.version")}: maxResize=$maxResize " +
      s"(gate needs <=8), maxJpeg=$maxJpeg (<=3), minCross=$minCross " +
      s"(>=11) — if this fails the IMAGE CODEC drifted, not the engine"
    assert(maxResize <= 8 && maxJpeg <= 3 && minCross >= 11, diag)
  }

  test("logreg local fit == forced-distributed fit, weight for weight " +
      "(bit-exact doubles)") {
    // the r15 driver-local gradient loop claims bit-exactness with the
    // distributed DECIMAL(28,12) form; pin it on a corpus with mixed
    // langs, multi-line text, and enough rows that accumulation order
    // would show any drift
    import spark.implicits._
    val docs = (0 until 400).map { i =>
      val lang = if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "fr"
      (i.toLong, lang, ("w" + i + " ") * (1 + i % 37))
    }.toDF("doc_id", "lang", "text")
    def fitW(localBound: Int): Array[Double] = {
      val (_, w) = graft.pipeline.TextAnalysis.logregFit(
        docs, steps = 3, lr = 1.0, "en", "lang", "text", localBound)
      val r = w.collect().head
      Array(r.getDouble(0), r.getDouble(1), r.getDouble(2))
    }
    val local = fitW(graft.pipeline.TextAnalysis.LocalLogregBound)
    val dist = fitW(localBound = 0)
    assert(local.toSeq == dist.toSeq,
      s"local ${local.toSeq} != distributed ${dist.toSeq}")
    assert(local.exists(_ != 0.0), "degenerate fit (all-zero weights)")
  }

  test("PngCodec: fast encode and decode are BIT-IDENTICAL to the " +
      "ImageIO path — both encoders, all shapes, adaptive filters") {
    // the r15 codec swap rests on PNG being lossless and exactly
    // specified; this pins it empirically: (1) the fast-encoded bytes
    // decode (via ImageIO's own reader) to the same gray grid the fast
    // decoder returns, and (2) an ImageIO-WRITTEN png (adaptive
    // Sub/Up/Avg/Paeth filters) decodes identically through the fast
    // path — so neither direction can drift from the reference codec.
    def imageIOGray(bytes: Array[Byte]): (Array[Int], Int, Int) = {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      val w = img.getWidth; val h = img.getHeight
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      val gray = px.map(rgb => 299 * ((rgb >> 16) & 0xFF) +
        587 * ((rgb >> 8) & 0xFF) + 114 * (rgb & 0xFF))
      (gray, w, h)
    }
    val seeds = (0 until 25).map(i => (i * 4).toLong)
    for (seed <- seeds; scale <- Seq(1, 2)) {
      val w = (48 + (seed * 7) % 64).toInt
      val h = (48 + (seed * 13) % 48).toInt
      val fastBytes = graft.pipeline.Multimodal
        .syntheticSmoothImage("png", w, h, seed, scale)
      val viaFast = graft.pipeline.PngCodec.decodeGray(fastBytes)
      assert(viaFast != null, s"fast decode bailed on own bytes ($seed)")
      val viaIio = imageIOGray(fastBytes)
      assert(viaFast._2 == viaIio._2 && viaFast._3 == viaIio._3,
        s"dims drifted for seed $seed scale $scale")
      assert(java.util.Arrays.equals(viaFast._1, viaIio._1),
        s"fast-encoded gray drifted vs ImageIO decode ($seed, $scale)")
      // round-trip through ImageIO's adaptive-filter writer
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(fastBytes))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      val iioBytes = out.toByteArray
      val fastOfIio = graft.pipeline.PngCodec.decodeGray(iioBytes)
      if (fastOfIio != null) {
        assert(java.util.Arrays.equals(fastOfIio._1, viaIio._1),
          s"fast decode of ImageIO-written png drifted ($seed, $scale)")
      } else {
        // ImageIO chose a non-truecolor layout — the production
        // fallback covers it; still must decode equal via ImageIO
        val g2 = imageIOGray(iioBytes)
        assert(java.util.Arrays.equals(g2._1, viaIio._1))
      }
    }
    // corrupt/truncated payloads bail to the caller's fallback
    assert(graft.pipeline.PngCodec.decodeGray(Array[Byte](1, 2, 3)) == null)
    val good = graft.pipeline.Multimodal
      .syntheticSmoothImage("png", 50, 50, 8L, 1)
    assert(graft.pipeline.PngCodec.decodeGray(good.take(60)) == null)
  }

  test("AudioHash64: DataFrame (codegen) path replays the frame " +
      "energy/crossing arithmetic; invariant to gain; short input is 0") {
    import spark.implicits._
    // independent in-test replica of the 33-frame pool
    def replay(pcm: Array[Int]): Long = {
      val F = 33
      if (pcm.length < F) return 0L
      val e = new Array[BigInt](F); val z = new Array[Int](F)
      val c = new Array[Long](F)
      for (k <- 0 until F) {
        val lo = k * pcm.length / F; val hi = (k + 1) * pcm.length / F
        e(k) = (lo until hi).map(i => BigInt(pcm(i)) * pcm(i)).sum
        z(k) = (lo until hi - 1).count(i =>
          pcm(i).toLong * pcm(i + 1) < 0)
        c(k) = hi - lo
      }
      var out = 0L
      for (k <- 0 until F - 1) {
        if (e(k) * c(k + 1) > e(k + 1) * c(k)) out |= 1L << k
        if (z(k) > z(k + 1)) out |= 1L << (32 + k)
      }
      out
    }
    def viaDf(pcm: Array[Int]): Long =
      Seq(Tuple1(pcm.toSeq)).toDF("pcm")
        .select(org.apache.spark.sql.graft.VectorExpressions
          .audiohash64(col("pcm")).as("ah"))
        .head().getLong(0)
    val rnd = new scala.util.Random(190)
    val pcm = Array.fill(733)(rnd.nextInt(65536) - 32768)
    assert(viaDf(pcm) == replay(pcm))
    // energy compares are ratio compares and crossings are sign
    // patterns → any positive gain keeps every bit
    assert(viaDf(pcm.map(_ * 3)) == viaDf(pcm))
    // out-of-spec input (fewer samples than frames) hashes to 0
    assert(viaDf(pcm.take(20)) == 0L)
  }

  test("WAV bytes roundtrip through the RIFF parser at 16 and 8 bit; " +
      "corrupt payloads parse to null") {
    val pcm16 = Array.tabulate(500)(i => (math.sin(i * 0.1) * 20000).toInt)
    val (got16, rate16) = Multimodal.parseWav(
      Multimodal.wavBytes(pcm16, 8000, 16))
    assert(rate16 == 8000 && got16.toSeq == pcm16.toSeq)
    val pcm8 = Array.tabulate(300)(i => 128 + (math.sin(i * 0.2) * 100).toInt)
    val (got8, rate8) = Multimodal.parseWav(
      Multimodal.wavBytes(pcm8, 16000, 8))
    // 8-bit decodes centered (unsigned, bias 128)
    assert(rate8 == 16000 && got8.toSeq == pcm8.map(_ - 128).toSeq)
    assert(Multimodal.parseWav(null) == null)
    assert(Multimodal.parseWav(Array.fill[Byte](100)(7)) == null)
    val truncated = Multimodal.wavBytes(pcm16, 8000, 16).take(30)
    assert(Multimodal.parseWav(truncated) == null)
  }

  test("audio margin bands hold (resample<=4, requant<=6, cross>=13) " +
      "— all-deterministic synth, no codec dependence") {
    import spark.implicits._
    val seeds = (0 until 60).map(i => (i * 4).toLong)
    def sigs(rate: Int, bits: Int): Map[Long, Long] =
      Multimodal.withDecodedPcm(
        Multimodal.withSyntheticWav(
          seeds.map(s => (s, s)).toDF("doc_id", "seed"),
          "seed", rate, bits).select("doc_id", "media"), "media")
        .select(col("doc_id"),
          org.apache.spark.sql.graft.VectorExpressions.audiohash64(
            col("pcm")).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = sigs(8000, 16)
    val res = sigs(16000, 16)
    val quant = sigs(8000, 8)
    def d(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val maxRes = seeds.map(s => d(base(s), res(s))).max
    val maxQ = seeds.map(s => d(base(s), quant(s))).max
    val minCross = (for {
      i <- seeds.indices; j <- 0 until i
    } yield d(base(seeds(i)), base(seeds(j)))).min
    assert(maxRes <= 4 && maxQ <= 6 && minCross >= 13,
      s"audio margins drifted: maxResample=$maxRes (<=4), " +
        s"maxRequant=$maxQ (<=6), minCross=$minCross (>=13)")
  }

  test("audioPairs: a 2x resample and an 8-bit requant pair with their " +
      "source sound; different sounds never pair") {
    import spark.implicits._
    val seeds = (0 until 40).map(i => (i * 4).toLong)
    def gen(offset: Long, rate: Int, bits: Int) =
      Multimodal.withSyntheticWav(
        seeds.map(s => (s + offset, s)).toDF("doc_id", "seed"),
        "seed", rate, bits).select("doc_id", "media")
    val media = gen(0L, 8000, 16)
      .unionAll(gen(1000000L, 16000, 16))
      .unionAll(gen(2000000L, 8000, 8))
    val pairs = Dedup.audioPairs(media, "doc_id", "media",
      maxHamming = 8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (a, b) =>
      assert(a % 1000000 == b % 1000000, s"cross-sound pair ($a, $b)")
    }
    val set = pairs.toSet
    seeds.foreach { s =>
      assert(set.contains((s, s + 1000000)),
        s"resample pair missing for $s")
      assert(set.contains((s, s + 2000000)),
        s"requant pair missing for $s")
    }
  }

  test("MajorityHash64: strict per-bit majority, ties drop to 0; " +
      "empty and null-element arrays hash to 0") {
    import spark.implicits._
    def viaDf(sigs: Seq[java.lang.Long]): Long =
      Seq(Tuple1(sigs)).toDF("sigs")
        .select(org.apache.spark.sql.graft.VectorExpressions
          .majorityhash64(col("sigs")).as("mh"))
        .head().getLong(0)
    // 3 votes: bit 0 in 2/3 (majority), bit 1 in 1/3, bit 2 in 3/3
    assert(viaDf(Seq(5L, 4L, 1L)) == 5L) // 101, 100, 001 → 101
    // 2 votes: bit in 1/2 is a TIE → 0; bit in 2/2 survives
    assert(viaDf(Seq(3L, 2L)) == 2L)
    assert(viaDf(Seq.empty[java.lang.Long]) == 0L)
    assert(viaDf(Seq(7L, null, 7L)) == 0L)
  }

  test("withDecodedFrames samples fixed time fractions (half-rate " +
      "clips align within one frame); corrupt clips decode to null") {
    import spark.implicits._
    val df = Seq((1L, 1), (2L, 2)).toDF("doc_id", "step")
    val m24 = Multimodal.withSyntheticVideoMedia(
      df.filter(col("step") === 1).select(col("doc_id"),
        col("doc_id").as("seed")), "seed", 1, 1, 256)
    val frames = Multimodal.withDecodedFrames(
      m24.select("doc_id", "media"))
      .select("doc_id", "frame_pos", "img_w", "img_h").collect()
    assert(frames.length == 8 &&
      frames.forall(r => r.getInt(2) == 36 && r.getInt(3) == 32))
    // corrupt payload → one null row, no crash
    val bad = Seq((9L, Array[Byte](1, 2, 3))).toDF("doc_id", "media")
    val badRows = Multimodal.withDecodedFrames(bad).collect()
    assert(badRows.length == 1 && badRows.head.isNullAt(2))
  }

  test("video margin bands hold (variants<=4, cross>=9, threshold 6) " +
      "— all-deterministic synth, no codec dependence") {
    import spark.implicits._
    val seeds = (0 until 60).map(i => (i * 4).toLong)
    def sigs(resDiv: Int, step: Int, bright: Int): Map[Long, Long] = {
      val media = Multimodal.withSyntheticVideoMedia(
        seeds.map(s => (s, s)).toDF("doc_id", "seed"),
        "seed", resDiv, step, bright).select("doc_id", "media")
      val frames = Multimodal.withDecodedFrames(media)
        .filter(col("gray").isNotNull)
      frames.select(col("doc_id"),
          org.apache.spark.sql.graft.VectorExpressions.dhash64(
            col("gray"), col("img_w"), col("img_h")).as("fsig"))
        .groupBy("doc_id")
        .agg(org.apache.spark.sql.graft.VectorExpressions.majorityhash64(
          collect_list(col("fsig"))).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val base = sigs(1, 1, 256)
    val half = sigs(2, 1, 256)
    val slow = sigs(1, 2, 256)
    val dim = sigs(1, 1, 216)
    def d(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val mh = seeds.map(s => d(base(s), half(s))).max
    val mt = seeds.map(s => d(base(s), slow(s))).max
    val md = seeds.map(s => d(base(s), dim(s))).max
    val minCross = (for {
      i <- seeds.indices; j <- 0 until i
    } yield d(base(seeds(i)), base(seeds(j)))).min
    assert(mh <= 4 && mt <= 4 && md <= 4 && minCross >= 9,
      s"video margins drifted: halfres=$mh halfrate=$mt dim=$md " +
        s"(all <=4; gate threshold 6), minCross=$minCross (>=9; " +
        s"full-range floor 9)")
  }

  test("videoPairs: half-res, half-rate and dimmed re-encodes pair " +
      "with their source clip; different clips never pair") {
    import spark.implicits._
    val seeds = (0 until 40).map(i => (i * 4).toLong)
    def gen(offset: Long, resDiv: Int, step: Int, bright: Int) =
      Multimodal.withSyntheticVideoMedia(
        seeds.map(s => (s + offset, s)).toDF("doc_id", "seed"),
        "seed", resDiv, step, bright).select("doc_id", "media")
    val media = gen(0L, 1, 1, 256)
      .unionAll(gen(1000000L, 2, 1, 256))
      .unionAll(gen(2000000L, 1, 2, 256))
      .unionAll(gen(3000000L, 1, 1, 216))
    val pairs = Dedup.videoPairs(media, "doc_id", "media",
      maxHamming = 6)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (a, b) =>
      assert(a % 1000000 == b % 1000000, s"cross-clip pair ($a, $b)")
    }
    val set = pairs.toSet
    seeds.foreach { s =>
      assert(set.contains((s, s + 1000000)), s"halfres missing for $s")
      assert(set.contains((s, s + 2000000)), s"halfrate missing for $s")
      assert(set.contains((s, s + 3000000)), s"dim missing for $s")
    }
  }

  test("cross-modal margin bands hold (grab-vs-own-frames<=4, " +
      "grab-vs-other-clips>=9) — frame-level, not majority-level") {
    import spark.implicits._
    val seeds = (0 until 60).map(i => (i * 4).toLong)
    def frameSigsOf(df: org.apache.spark.sql.DataFrame) =
      Multimodal.withDecodedFrames(df, "media")
        .filter(col("gray").isNotNull)
        .select(col("doc_id"),
          org.apache.spark.sql.graft.VectorExpressions.dhash64(
            col("gray"), col("img_w"), col("img_h")).as("sig"))
        .collect().groupBy(_.getLong(0))
        .map { case (k, v) => k -> v.map(_.getLong(1)).toSeq }
    val clips = frameSigsOf(Multimodal.withSyntheticVideoMedia(
      seeds.map(s => (s, s)).toDF("doc_id", "seed"),
      "seed", 1, 1, 256).select("doc_id", "media"))
    val grabs = Multimodal.withDecodedGray(
      Multimodal.withFrameGrabMedia(
        seeds.map(s => (s, s)).toDF("doc_id", "seed"), "seed")
        .select("doc_id", "media"), "media")
      .select(col("doc_id"),
        org.apache.spark.sql.graft.VectorExpressions.dhash64(
          col("gray"), col("img_w"), col("img_h")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def d(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val own = seeds.map(s => clips(s).map(f => d(grabs(s), f)).min).max
    val cross = (for {
      i <- seeds.indices; j <- seeds.indices if i != j
      f <- clips(seeds(j))
    } yield d(grabs(seeds(i)), f)).min
    assert(own <= 4 && cross >= 9,
      s"cross-modal margins drifted: grabOwnMax=$own (<=4; gate " +
        s"threshold 6), grabCrossMin=$cross (>=9) — full-range 2 / 9")
  }

  test("p200 margins: snippet-vs-own-segment and cross-window bands " +
      "hold on the sub-seed population; recall and soundness exact") {
    import spark.implicits._
    val seeds = (0 until 60).map(i => (i * 4).toLong)
    val recs = Multimodal.withConcatWav(
      seeds.map(s => (s, s)).toDF("doc_id", "seed"),
      "seed", 4, 8000, 16).select("doc_id", "media")
    val snips = Multimodal.withSyntheticWav(
      seeds.map(s => (s + 1000000L, s * 16 + (s / 4) % 4))
        .toDF("doc_id", "seed"),
      "seed", 16000, 16).select("doc_id", "media")
    // the sliding-window population the operator actually hashes
    // (hopDiv=2, 7 spans): an aligned segment j is covered by span 2j
    val wins = Dedup.audioWindowSigs(recs, "doc_id", "media", 4,
        hopDiv = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sn = Dedup.audioSnippetSigs(snips, "doc_id", "media")
      .collect()
      .map(r => ((r.getLong(0) - 15) / 16 - 1000000L, r.getLong(1)))
      .toMap
    def d(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val own = seeds.map { s =>
      val j = (s / 4) % 4
      val w = wins.find(x => x._1 == s * 16 + 2 * j).get._2
      d(sn(s), w)
    }.max
    // every span that is NOT the covering one — including the
    // half-offset straddle spans the sliding form adds
    val cross = (for {
      s <- seeds; (wid, wsig) <- wins
      if wid != s * 16 + 2 * ((s / 4) % 4)
    } yield d(sn(s), wsig)).min
    assert(own <= 4 && cross >= 13,
      s"audio-containment margins drifted: ownMax=$own (<=4; " +
        s"threshold 6, the video-family band), crossMin=$cross (>=13)")
    // recall + soundness through the full operator
    val pairs = Dedup.audioSnippetPairs(snips, "doc_id", "media",
        recs, "doc_id", "media")
      .select("snippet_id", "rec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (sid, rid) =>
      assert(sid - 1000000L == rid, s"cross-recording pair ($sid, $rid)")
    }
    val set = pairs.toSet
    seeds.foreach { s =>
      assert(set.contains((s + 1000000L, s)), s"snippet missing for $s")
    }
  }

  test("PoolGrid72 / HvHash64 / LongAbsDiffSum: hand-checkable " +
      "arithmetic — exact cell means on a 9x8 image, in-test hash " +
      "replica, L1 incl. the length-mismatch sentinel") {
    import spark.implicits._
    val V = org.apache.spark.sql.graft.VectorExpressions
    // 9x8 image at gridN=1: every pool cell is exactly one pixel, so
    // the grid IS the pixel array
    val px = Array.tabulate(72)(i => i * 1000 + 7)
    val got = Seq((px.toSeq, 9, 8)).toDF("gray", "w", "h")
      .select(V.poolGrid72(col("gray"), col("w"), col("h"), 1, 0, 0)
        .as("g")).head().getSeq[Long](0)
    assert(got == px.map(_.toLong).toSeq)
    // 18x16 at gridN=2, cell (1,0): grid = the top-right 9x8 pixel
    // block (each pool cell one pixel again)
    val big = Array.tabulate(18 * 16)(i => i)
    val tr = Seq((big.toSeq, 18, 16)).toDF("gray", "w", "h")
      .select(V.poolGrid72(col("gray"), col("w"), col("h"), 2, 1, 0)
        .as("g")).head().getSeq[Long](0)
    assert(tr == (for (y <- 0 until 8; x <- 9 until 18)
      yield (y * 18 + x).toLong))
    // floor-div mean: a 2x2-per-cell image (18x16 at gridN=1)
    val m = Seq((big.toSeq, 18, 16)).toDF("gray", "w", "h")
      .select(V.poolGrid72(col("gray"), col("w"), col("h"), 1, 0, 0)
        .as("g")).head().getSeq[Long](0)
    assert(m(0) == (0 + 1 + 18 + 19) / 4)
    // HvHash64 vs an in-test replica on a random grid
    val rnd = new scala.util.Random(201)
    val grid = Array.fill(72)(rnd.nextInt(255000).toLong)
    def replica(g: Array[Long]): Long = {
      var out = 0L
      for (by <- 0 until 4; bx <- 0 until 8)
        if (g(2 * by * 9 + bx) + g((2 * by + 1) * 9 + bx) >
          g(2 * by * 9 + bx + 1) + g((2 * by + 1) * 9 + bx + 1))
          out |= 1L << (by * 8 + bx)
      for (bc <- 0 until 4; row <- 0 until 8)
        if (g(row * 9 + 2 * bc) + g(row * 9 + 2 * bc + 1) >
          g(((row + 1) % 8) * 9 + 2 * bc) +
            g(((row + 1) % 8) * 9 + 2 * bc + 1))
          out |= 1L << (32 + bc * 8 + row)
      out
    }
    val hv = Seq(Tuple1(grid.toSeq)).toDF("g")
      .select(V.hvhash64(col("g")).as("h")).head().getLong(0)
    assert(hv == replica(grid))
    // short grid hashes to 0 (corrupt-row convention)
    assert(Seq(Tuple1(Seq(1L, 2L))).toDF("g")
      .select(V.hvhash64(col("g")).as("h")).head().getLong(0) == 0L)
    // L1: exact sum; mismatched lengths -> MaxValue (never verifies)
    val l1 = Seq((Seq(1L, 5L, 10L), Seq(3L, 5L, 4L)))
      .toDF("a", "b")
      .select(V.longAbsDiffSum(col("a"), col("b")).as("s"))
      .head().getLong(0)
    assert(l1 == 8L)
    assert(Seq((Seq(1L, 2L), Seq(1L)))
      .toDF("a", "b")
      .select(V.longAbsDiffSum(col("a"), col("b")).as("s"))
      .head().getLong(0) == Long.MaxValue)
  }

  test("crop margin bands hold (candidate own<=8, own L1/cell<=10000, " +
      "cross candidates L1/cell>=10000) — diagnostic on codec drift") {
    // The p201 gate rests on the measured two-level band (full sf0.1
    // range: candidate own <= 8 bits; own L1 <= 5290/cell vs nearest
    // cross-image CANDIDATE 18897/cell). This spec re-measures on a
    // 60-seed sample so PNG-codec or renderer drift fails HERE with
    // numbers, not as a bare oracle mismatch.
    import spark.implicits._
    val seeds = (0 until 60).map(i => (i * 4).toLong)
    val originals = Multimodal.withSmoothMedia(
      seeds.map(s => (s, s)).toDF("doc_id", "seed"),
      "seed", "png", 1).select("doc_id", "media")
    val crops = Multimodal.withSmoothCropMedia(
      seeds.map(s => (s + 1000000L, s, (s / 4) % 4))
        .toDF("doc_id", "seed", "q"),
      "seed", "q", gridN = 2).select("doc_id", "media")
    val sigs = Dedup.cropAnchorSigs(originals.unionAll(crops),
      "doc_id", "media", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Long](2).toArray))
    val byKey = sigs.map(s => (s._1, (s._2, s._3))).toMap
    def d(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    def l1(a: Array[Long], b: Array[Long]) =
      (0 until 72).map(i => math.abs(a(i) - b(i))).sum / 72
    val own = seeds.map { s =>
      val q = (s / 4) % 4
      val (cs, cg) = byKey((s + 1000000L) * 16 + 15)
      val (as_, ag) = byKey(s * 16 + q)
      (d(cs, as_), l1(cg, ag))
    }
    val ownHam = own.map(_._1).max
    val ownL1 = own.map(_._2).max
    // nearest cross-SOURCE candidate (hamming <= 8) by L1
    val arr = sigs.map { case (sub, sg, gr) =>
      ((sub / 16) % 1000000L, sg, gr) }
    val crossL1 = (for {
      i <- arr.indices; j <- 0 until i
      if arr(i)._1 != arr(j)._1 && d(arr(i)._2, arr(j)._2) <= 8
    } yield l1(arr(i)._3, arr(j)._3))
    val crossMin = if (crossL1.isEmpty) Long.MaxValue else crossL1.min
    assert(ownHam <= 8 && ownL1 <= 10000 && crossMin >= 10000,
      s"crop margins drifted under JDK " +
        s"${System.getProperty("java.version")}: ownHamMax=$ownHam " +
        s"(<=8), ownL1Max=$ownL1 (<=10000/cell; full-range 5290), " +
        s"crossCandMinL1=$crossMin (>=10000/cell; full-range 18897)")
  }

  test("cropRobustPairs: every planted crop pairs with its source; " +
      "no cross-source pair survives the L1 verify") {
    import spark.implicits._
    val seeds = (0 until 40).map(i => (i * 4).toLong)
    val originals = Multimodal.withSmoothMedia(
      seeds.map(s => (s, s)).toDF("doc_id", "seed"),
      "seed", "png", 1).select("doc_id", "media")
    val crops = Multimodal.withSmoothCropMedia(
      seeds.map(s => (s + 1000000L, s, (s / 4) % 4))
        .toDF("doc_id", "seed", "q"),
      "seed", "q", gridN = 2).select("doc_id", "media")
    val pairs = Dedup.cropRobustPairs(originals.unionAll(crops),
      "doc_id", "media")
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (a, b) =>
      assert(b - 1000000L == a, s"cross-source pair ($a, $b)")
    }
    val set = pairs.toSet
    seeds.foreach { s =>
      assert(set.contains((s, s + 1000000L)), s"crop missing for $s")
    }
  }

  test("p202 margins: a half-window-offset snippet is INVISIBLE to " +
      "aligned windows but <= 4 bits from its sliding span; sliding " +
      "recall exact, soundness held") {
    import spark.implicits._
    val seeds = (0 until 60).map(i => (i * 4).toLong)
    val recs = Multimodal.withHalfOffsetConcatWav(
      seeds.map(s => (s, s)).toDF("doc_id", "seed"),
      "seed", 8000, 16).select("doc_id", "media")
    val snips = Multimodal.withSyntheticWav(
      seeds.map(s => (s + 1000000L, s * 16 + 1 + (s / 4) % 3))
        .toDF("doc_id", "seed"),
      "seed", 16000, 16).select("doc_id", "media")
    def d(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val sn = Dedup.audioSnippetSigs(snips, "doc_id", "media")
      .collect()
      .map(r => ((r.getLong(0) - 15) / 16 - 1000000L, r.getLong(1)))
      .toMap
    // the hole, measured: under ALIGNED windows (hopDiv=1) every
    // window straddles two planted segments — no window comes inside
    // the threshold-6 band of its snippet
    val aligned = Dedup.audioWindowSigs(recs, "doc_id", "media", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val alignedBest = seeds.map { s =>
      aligned.filter(_._1 / 16 == s).map(w => d(sn(s), w._2)).min
    }.min
    assert(alignedBest > 6,
      s"aligned windows unexpectedly see the misaligned snippet " +
        s"(best=$alignedBest <= 6) — the p202 hole closed itself?")
    // sliding spans: segment j* = 1 + (s/4) % 3 is covered exactly by
    // span 2j*−1
    val sliding = Dedup.audioWindowSigs(recs, "doc_id", "media", 4,
        hopDiv = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val own = seeds.map { s =>
      val j = 1 + (s / 4) % 3
      val w = sliding.find(x => x._1 == s * 16 + (2 * j - 1)).get._2
      d(sn(s), w)
    }.max
    val cross = (for {
      s <- seeds; (wid, wsig) <- sliding
      if wid != s * 16 + (2 * (1 + (s / 4) % 3) - 1)
    } yield d(sn(s), wsig)).min
    assert(own <= 4 && cross >= 13,
      s"misaligned-containment margins drifted: ownMax=$own (<=4; " +
        s"threshold 6), crossMin=$cross (>=13)")
    // recall + soundness through the full operator
    val pairs = Dedup.audioSnippetPairs(snips, "doc_id", "media",
        recs, "doc_id", "media")
      .select("snippet_id", "rec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (sid, rid) =>
      assert(sid - 1000000L == rid, s"cross-recording pair ($sid, $rid)")
    }
    val set = pairs.toSet
    seeds.foreach { s =>
      assert(set.contains((s + 1000000L, s)), s"snippet missing for $s")
    }
  }

  test("hammingPairsCollapsed == hammingPairs row for row on a " +
      "re-post-heavy signature table (incl. singletons and a " +
      "distance-0-but-distinct-id group)") {
    import spark.implicits._
    // exact groups of size 1/2/4, two near sigs (1 and 3 bits off the
    // big group), one far sig
    val sigs = Seq(
      (1L, 0x5555AAAA12345678L), (2L, 0x5555AAAA12345678L),
      (3L, 0x5555AAAA12345678L), (4L, 0x5555AAAA12345678L),
      (10L, 0x5555AAAA12345679L), // 1 bit from the group
      (20L, 0x5555AAAA1234567FL), // 3 bits
      (30L, 0x0F0F0F0F0F0F0F0FL), (31L, 0x0F0F0F0F0F0F0F0FL),
      (40L, -1L)).toDF("id", "sig")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "hamming").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    for (m <- Seq(1, 3)) {
      val plain = canon(Dedup.hammingPairs(sigs, 4, m))
      val collapsed = canon(Dedup.hammingPairsCollapsed(sigs, 4, m))
      assert(collapsed == plain,
        s"m=$m: collapsed ${collapsed.size} != plain ${plain.size}: " +
          s"missing=${plain -- collapsed} extra=${collapsed -- plain}")
      // sanity: the group of 4 alone contributes C(4,2)=6 exact pairs
      assert(plain.count(_._3 == 0) == 6 + 1)
    }
  }

  test("p204 margins: snippet frames <= 4 bits from their aligned " +
      "long-video samples, >= 9 from everything else; recall and " +
      "soundness exact through the operator") {
    import spark.implicits._
    val seeds = (0 until 60).map(i => (i * 4).toLong)
    val longs = Multimodal.withConcatVideoMedia(
      seeds.map(s => (s, s)).toDF("doc_id", "seed"),
      "seed", 4).select("doc_id", "media")
    val snips = Multimodal.withSyntheticVideoMedia(
      seeds.map(s => (s + 1000000L, s * 16 + (s / 4) % 4))
        .toDF("doc_id", "seed"),
      "seed", 2, 1, 256).select("doc_id", "media")
    def frameSigs(df: org.apache.spark.sql.DataFrame, n: Int) =
      Multimodal.withDecodedFrames(df, "media", nSample = n)
        .filter(col("gray").isNotNull)
        .select(col("doc_id"), col("frame_pos"),
          org.apache.spark.sql.graft.VectorExpressions.dhash64(
            col("gray"), col("img_w"), col("img_h")).as("sig"))
        .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2)))
    val lf = frameSigs(longs, 32).toMap
    val sf_ = frameSigs(snips, 8)
    def d(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // own: snippet frame k vs the long's sample 8·j* + k (the aligned
    // source frame, per the congruence)
    val own = sf_.map { case ((sid, k), sig) =>
      val s = sid - 1000000L
      val j = (s / 4) % 4
      d(sig, lf((s, (8 * j + k).toInt)))
    }.max
    // cross: snippet frames vs every long sample that is NOT in its
    // own source segment
    val cross = sf_.flatMap { case ((sid, k), sig) =>
      val s = sid - 1000000L
      val j = (s / 4) % 4
      for {
        s2 <- seeds; p <- 0 until 32
        if s2 != s || p / 8 != j
      } yield d(sig, lf((s2, p)))
    }.min
    assert(own <= 4 && cross >= 9,
      s"video-containment margins drifted: ownMax=$own (<=4; " +
        s"threshold 6, the video-family band), crossMin=$cross (>=9)")
    // recall + soundness through the full operator
    val pairs = Dedup.videoSnippetPairs(snips, "doc_id", "media",
        longs, "doc_id", "media")
      .select("snippet_id", "video_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (sid, vid) =>
      assert(sid - 1000000L == vid, s"cross-video pair ($sid, $vid)")
    }
    val set = pairs.toSet
    seeds.foreach { s =>
      assert(set.contains((s + 1000000L, s)), s"snippet missing for $s")
    }
  }

  test("syntheticConcatVideo segment j == syntheticVideo of sub-seed " +
      "j, frame for frame (the shared renderer cannot drift)") {
    val long = Multimodal.syntheticConcatVideo(12L, 4)
    val w = 36; val h = 32
    for (j <- 0 until 4) {
      val seg = Multimodal.syntheticVideo(12L * 16 + j, 1, 1, 256)
      val got = long.slice(16 + j * 24 * w * h, 16 + (j + 1) * 24 * w * h)
      assert(got.sameElements(seg.drop(16)), s"segment $j drifted")
    }
  }

  test("frameGrabPairs: every planted still pairs with its source " +
      "clip; stills never pair with other clips") {
    import spark.implicits._
    val seeds = (0 until 40).map(i => (i * 4).toLong)
    val clips = Multimodal.withSyntheticVideoMedia(
      seeds.map(s => (s, s)).toDF("doc_id", "seed"),
      "seed", 1, 1, 256).select("doc_id", "media")
    val grabs = Multimodal.withFrameGrabMedia(
      seeds.map(s => (s + 1000000L, s)).toDF("doc_id", "seed"), "seed")
      .select("doc_id", "media")
    val pairs = Dedup.frameGrabPairs(grabs, "doc_id", "media",
      clips, "doc_id", "media", maxHamming = 6)
      .select("image_id", "clip_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (img, clip) =>
      assert(img - 1000000L == clip, s"cross-clip grab pair ($img, $clip)")
    }
    val set = pairs.toSet
    seeds.foreach { s =>
      assert(set.contains((s + 1000000L, s)), s"grab pair missing for $s")
    }
  }

  test("Interleave64: bit 2k is x's bit k, bit 2k+1 is y's bit k; " +
      "shared tiles share z prefixes") {
    import spark.implicits._
    val rnd = new scala.util.Random(44)
    val cases = Seq((0, 0), (65535, 0), (0, 65535), (-1, 1)) ++
      Seq.fill(50)((rnd.nextInt(), rnd.nextInt()))
    val got = cases.toDF("x", "y")
      .select(org.apache.spark.sql.graft.VectorExpressions
        .interleave64(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0))
    cases.zip(got).foreach { case ((x, y), z) =>
      (0 until 32).foreach { k =>
        assert(((z >> (2 * k)) & 1L) == ((x.toLong >> k) & 1L),
          s"bit ${2 * k} of z($x,$y)")
        assert(((z >> (2 * k + 1)) & 1L) == ((y.toLong >> k) & 1L),
          s"bit ${2 * k + 1} of z($x,$y)")
      }
    }
    // locality: two 16-bit points in the same 256x256 tile share the
    // z prefix above the interleaved low bytes — the property file
    // min/max pruning rides on
    def z16(x: Int, y: Int) =
      org.apache.spark.sql.graft.Interleave64.interleave(x, y)
    assert(z16(0x1234, 0x4321) >> 16 == z16(0x12FF, 0x43AB) >> 16)
  }

  test("x46 seam: counting-algorithm maintenance == recompute after " +
      "each commit; a fully-deleted key drops from the view") {
    import spark.implicits._
    import graft.operators.Scale
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("event_type").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val base = Seq((1L, 10L, "a"), (2L, 20L, "a"), (3L, 30L, "b"),
      (4L, 40L, "c")).toDF("event_id", "user_id", "event_type")
    val ins = Seq((10L, 5L, "a"), (11L, 7L, "d"))
      .toDF("event_id", "user_id", "event_type")
    val v1 = Scale.ivmMaintain(Scale.ivmViewOf(base), ins, 1)
    assert(canon(v1) == canon(Scale.ivmViewOf(base.unionAll(ins))))
    // delete EVERY row of keys b and c (the zero-count branch the
    // x46 fixture's %7 deletes never reach): both keys must vanish,
    // exactly as a GROUP BY over the reconstructed table would
    val del = Seq((3L, 30L, "b"), (4L, 40L, "c"))
      .toDF("event_id", "user_id", "event_type")
    val v2 = Scale.ivmMaintain(v1, del, -1)
    val recomputed = Scale.ivmViewOf(base.unionAll(ins)
      .join(del.select("event_id"), Seq("event_id"), "left_anti"))
    assert(canon(v2) == canon(recomputed))
    assert(!canon(v2).exists(r => r._1 == "b" || r._1 == "c"))
    // and the counting algorithm is exact on the surviving keys
    assert(canon(v2) == Seq(("a", 3L, 35L), ("d", 1L, 7L)))
  }

  test("bpeTrain: hand-computed merges on the Sennrich corpus; " +
      "greedy left-to-right application on overlapping pairs") {
    // independent of the shared Spark/oracle rewrite formula: these
    // expectations are derived BY HAND from the BPE definition (the
    // original p196 rewrite bug — single-space search pattern in the
    // doubled-space string — passed the oracle because both sides
    // shared the formula; this spec is the defense)
    import spark.implicits._
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val docs = words.zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrain(docs, 5).orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    // round 1: es/st tie at 9 → "e s" by pair order; round 2 "es t";
    // round 3: "w e" is DOWN to 2 (newest now n-e-w-est), lo/ow tie at
    // 7 → "l o"; round 4 "lo w"; round 5: ew/ne/west tie at 6 → "e w"
    assert(got == Seq((1, "e s", 9L), (2, "es t", 9L), (3, "l o", 7L),
      (4, "lo w", 7L), (5, "e w", 6L)))
    // greedy left-to-right on overlaps: "a a a" merges to "aa a",
    // never "a aa" — a right-to-left (or regex-anchored) application
    // would learn "a aa" at step 2
    val tri = Seq((1L, "aaa aaa aaa")).toDF("doc_id", "text")
    val got2 = TextAnalysis.bpeTrain(tri, 2).orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(got2 == Seq((1, "a a", 6L), (2, "aa a", 3L)))
  }

  test("bpeTrainIncremental == bpeTrain merge for merge — Sennrich " +
      "corpus (ties, count drops), the overlap triple, exhaustion, " +
      "and the sf0.001 documents at 12 merges") {
    import spark.implicits._
    def learned(df: org.apache.spark.sql.DataFrame, m: Int,
        inc: Boolean) =
      (if (inc) TextAnalysis.bpeTrainIncremental(df, m)
       else TextAnalysis.bpeTrain(df, m))
        .orderBy("step").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val sennrich = words.zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    assert(learned(sennrich, 5, inc = true) ==
      learned(sennrich, 5, inc = false))
    // the hand-derived expectation directly, so the incremental form
    // is pinned to the DEFINITION, not just to the recount twin
    assert(learned(sennrich, 5, inc = true) ==
      Seq((1, "e s", 9L), (2, "es t", 9L), (3, "l o", 7L),
        (4, "lo w", 7L), (5, "e w", 6L)))
    // overlapping "a a a": the delta of a self-overlapping merge is
    // the hardest case for count maintenance (the merged pair's own
    // occurrences overlap)
    val tri = Seq((1L, "aaa aaa aaa")).toDF("doc_id", "text")
    assert(learned(tri, 2, inc = true) == learned(tri, 2, inc = false))
    // exhaustion: stops early like the recount form
    assert(TextAnalysis.bpeTrainIncremental(
      Seq((1L, "a b c a")).toDF("doc_id", "text"), 3).count() == 0)
    assert(learned(Seq((1L, "ab ab")).toDF("doc_id", "text"), 5,
      inc = true) == Seq((1, "a b", 2L)))
    // real corpus, deeper than the gate's 10 rounds
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    assert(learned(docs, 12, inc = true) ==
      learned(docs, 12, inc = false))
  }

  test("bpe small-vocab local fast path == forced-distributed loop " +
      "merge for merge (multi-byte symbols, ties) and same final vocab") {
    // the r14 optimization runs the merge loop driver-local under
    // LocalBpeBound; this pins local == distributed on a corpus whose
    // argmax ties exercise the UTF8-binary pair tiebreak (multi-byte
    // characters order differently under Java String comparison)
    import spark.implicits._
    val words = Seq.fill(3)("héllo") ++ Seq.fill(3)("hęllo") ++
      Seq.fill(2)("日本語本") ++ Seq.fill(2)("low") ++
      Seq.fill(2)("lower") ++ Seq.fill(2)("zz")
    val docs = words.zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val v0 = TextAnalysis.bpeVocab(docs)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("step").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    val local = canon(TextAnalysis.bpeTrainFromVocab(v0, 6))
    assert(local.nonEmpty)
    assert(local == canon(
      TextAnalysis.bpeTrainFromVocab(v0, 6, localBound = 0L)))
    assert(local == canon(TextAnalysis
      .bpeTrainIncrementalFromVocab(v0, 6, localBound = 0L)))
    def vocabCanon(df: org.apache.spark.sql.DataFrame) =
      df.select("w", "seq", "cnt").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSeq.sorted
    assert(vocabCanon(TextAnalysis.bpeFinalVocab(v0, 6)) ==
      vocabCanon(TextAnalysis.bpeFinalVocab(v0, 6, localBound = 0L)))
  }

  test("p197 curve: hand-computed weighted symbol counts on the " +
      "Sennrich corpus (exact integers, every level)") {
    import spark.implicits._
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val docs = words.zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val got = TextAnalysis.bpeCompressionCurve(docs, 5)
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    // by hand: L0 5·3+2·5+6·6+3·6=79; es→70; est→61; lo→54; low→47;
    // ew→41 (newest is n-ew-est); 16 words throughout
    assert(got == Seq((0, 79L, 16L), (1, 70L, 16L), (2, 61L, 16L),
      (3, 54L, 16L), (4, 47L, 16L), (5, 41L, 16L)))
  }

  test("p198 encode: hand-computed subword counts after 5 Sennrich " +
      "merges (low=1, lower=3, newest=3, widest=4)") {
    import spark.implicits._
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val docs = words.zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val got = TextAnalysis.bpeEncodeCounts(docs, 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // after es/est/lo/low/ew: low→[low]; lower→[low,e,r];
    // newest→[n,ew,est]; widest→[w,i,d,est]
    val n = Map("low" -> 1L, "lower" -> 3L, "newest" -> 3L,
      "widest" -> 4L)
    val want = words.zipWithIndex
      .map { case (w, i) => (i.toLong, 1L, n(w)) }
    assert(got == want)
  }

  test("bpeTrain stops early when the pair supply is exhausted; " +
      "empty corpus yields a zero curve, not a crash") {
    import spark.implicits._
    // all single-character words: no pairs to merge at all
    val single = Seq((1L, "a b c a")).toDF("doc_id", "text")
    assert(TextAnalysis.bpeTrain(single, 3).count() == 0)
    // one learnable merge, then dry — asked for 5, returns 1
    val short = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val learned = TextAnalysis.bpeTrain(short, 5).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(learned == Seq((1, "a b", 2L)))
    // blank corpus: curve reports exact zeros at level 0
    val empty = Seq((1L, "   ")).toDF("doc_id", "text")
    val curve = TextAnalysis.bpeCompressionCurve(empty, 2).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(curve == Seq((0, 0L, 0L)))
  }

  test("s51 seam: per-split word-count histograms sum-merge to the " +
      "batch BPE vocab; publish == batch merges under any split") {
    import spark.implicits._
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest") ++
      Seq("Mixed", "CASE", "mixed case")
    val docs = words.zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    def hist(df: org.apache.spark.sql.DataFrame) =
      df.select(explode(TextAnalysis.tokens(lower(col("text"))))
        .as("w")).groupBy("w").agg(count(lit(1)).as("cnt"))
    val merged = (0 to 2).map { b =>
        hist(docs.filter(pmod(xxhash64(col("doc_id")), lit(3L)) === b))
      }.reduce(_ unionAll _)
      .groupBy("w").agg(sum("cnt").as("cnt"))
    // the merged histogram IS the batch vocab
    val gotVocab = merged
      .select(TextAnalysis.bpeSeqOf(col("w")).as("seq"), col("cnt"))
      .orderBy("seq").collect().map(r => (r.getString(0), r.getLong(1)))
    val wantVocab = TextAnalysis.bpeVocab(docs).select("seq", "cnt")
      .orderBy("seq").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(gotVocab.toSeq == wantVocab.toSeq)
    // and the publish path equals batch training verbatim
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("step").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    val got = canon(TextAnalysis.bpeTrainFromVocab(
      merged.select(TextAnalysis.bpeSeqOf(col("w")).as("seq"),
        col("cnt")), 4))
    assert(got == canon(TextAnalysis.bpeTrain(docs, 4)))
  }

  test("s52 seam: per-split (doc, word, n) partials sum-merge; " +
      "train-on-collapsed + broadcast encode == batch p198") {
    import spark.implicits._
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val docs = (words.zipWithIndex.map { case (w, i) =>
      (i.toLong, s"$w $w") } :+ (100L, "low newest"))
      .toDF("doc_id", "text")
    def state(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
          explode(TextAnalysis.tokens(lower(col("text")))).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("n"))
    val merged = (0 to 2).map { b =>
        state(docs.filter(pmod(xxhash64(col("doc_id")), lit(3L)) === b))
      }.reduce(_ unionAll _)
      .groupBy("doc_id", "w").agg(sum("n").as("n"))
    val vocab0 = merged.groupBy("w").agg(sum("n").as("cnt"))
      .select(col("w"), TextAnalysis.bpeSeqOf(col("w")).as("seq"),
        col("cnt"))
    val vocabN = TextAnalysis.bpeFinalVocab(vocab0, 5)
    val got = merged.join(
        broadcast(vocabN.select(col("w"),
          size(split(col("seq"), " ")).as("len"))), Seq("w"))
      .groupBy("doc_id")
      .agg(sum("n").as("n_words"),
        sum(col("n") * col("len")).as("n_bpe"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = TextAnalysis.bpeEncodeCounts(docs, 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
    // the doubled-word fixture also pins n per doc: 2 words each
    assert(want.init.forall(_._2 == 2L) && want.last == (100L, 2L, 4L))
  }

  test("s53 seam: signed view merge is order-independent — deletes " +
      "before their inserts leave negative intermediates that cancel") {
    import spark.implicits._
    // changelog batches: inserts for keys a/b, a later insert commit,
    // and deletes that fully cancel key b
    val batches = Seq(
      Seq((1L, 10L, "a", 1), (2L, 20L, "a", 1)),
      Seq((3L, 30L, "b", 1)),
      Seq((10L, 5L, "a", 1), (11L, 7L, "c", 1)),
      Seq((3L, 30L, "b", -1), (1L, 10L, "a", -1)))
    def mergeAll(order: Seq[Int]) = {
      val view = order.map(i => batches(i)
          .toDF("event_id", "user_id", "event_type", "sign")
          .groupBy("event_type")
          .agg(sum("sign").cast("long").as("n_rows"),
            sum(col("user_id") * col("sign")).cast("long")
              .as("sum_user")))
        .reduce { (acc, d) =>
          acc.unionAll(d).groupBy("event_type")
            .agg(sum("n_rows").cast("long").as("n_rows"),
              sum("sum_user").cast("long").as("sum_user"))
        }
      view.filter(col("n_rows") > 0).orderBy("event_type")
        .collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    }
    val want = Seq(("a", 2L, 25L), ("c", 1L, 7L)) // b cancels to zero
    assert(mergeAll(Seq(0, 1, 2, 3)) == want)
    // deletes FIRST: key b goes to (-1, -30) mid-stream, key a to
    // (-1, -10) — a mid-stream n>0 filter would destroy both
    assert(mergeAll(Seq(3, 0, 1, 2)) == want)
    val rnd = new scala.util.Random(53)
    (1 to 3).foreach { _ =>
      assert(mergeAll(rnd.shuffle(Seq(0, 1, 2, 3))) == want)
    }
  }

  test("ngram jaccard of identical docs is 1") {
    val planted = docs.limit(10).unionAll(docs.limit(10)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
    val pairs = Dedup.ngramJaccardPairs(planted, "doc_id", "text",
      n = 4, threshold = 0.99)
      .filter(col("id_b") === col("id_a") + 1000000)
    assert(pairs.count() == 10)
  }

  test("ngram LSH finds every exhaustive above-threshold pair (perfect recall)") {
    // the whole point of the banded rework: the single-min-gram bucket
    // missed 27 of 81 true pairs at sf0.01; banding must miss none
    val planted = docs.unionAll(docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" appended")).as("text")))
    val lsh = Dedup.ngramJaccardPairs(planted, "doc_id", "text",
      n = 4, threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exhaustive ground truth: all-pairs char-4-gram Jaccard
    val grams = planted.select(col("doc_id"), array_distinct(expr(
      "transform(sequence(1, greatest(length(text) - 3, 1)), " +
        "i -> substring(text, i, 4))")).as("g"))
    val exhaustive = grams.as("a").join(grams.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .withColumn("j",
        size(array_intersect(col("a.g"), col("b.g"))).cast("double") /
          size(array_union(col("a.g"), col("b.g"))))
      .filter(col("j") >= 0.5)
      .select(col("a.doc_id"), col("b.doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exhaustive.nonEmpty)
    assert(lsh == exhaustive,
      s"LSH missed ${(exhaustive -- lsh).size} of ${exhaustive.size} pairs")
  }

  test("banded buckets have no hot-gram magnet (skew bound)") {
    import spark.implicits._
    import org.apache.spark.sql.graft.VectorExpressions
    // 200 mutually-dissimilar docs (long seeded-random bodies, pairwise
    // gram Jaccard ~0.02) that ALL share a common tail ("the end"):
    // bucketing on a single global min gram hash can funnel a corpus
    // sharing one hot gram into one bucket (quadratic); banded
    // mini-signatures must keep candidates near the true-match count
    val n = 200
    val df = (0 until n).map { i =>
        val rnd = new scala.util.Random(i)
        val body = Seq.fill(240)("0123456789abcdef"(rnd.nextInt(16))).mkString
        (i.toLong, s"$body the end")
      }
      .toDF("id", "t")
      .withColumn("grams", array_distinct(expr(
        "transform(sequence(1, greatest(length(t) - 3, 1)), " +
          "i -> substring(t, i, 4))")))
      .withColumn("mh", VectorExpressions.minhashFromHashes(
        transform(col("grams"), g => xxhash64(g)), 16))
      .select("id", "grams", "mh")
    val nCand = Dedup.bandedCandidates(df, bands = 8, r = 2).count()
    // all-pairs would be n*(n-1)/2 = 19900; a hot bucket of even a third
    // of the corpus would exceed 2000 pairs on its own
    assert(nCand < n * 4, s"candidate blowup: $nCand pairs from $n docs")
  }

  test("exact-dup pre-collapse bounds banded candidates by distinct contents") {
    import org.apache.spark.sql.graft.VectorExpressions
    // a 500-copy exact-duplicate cluster (boilerplate), 3 copies of a
    // near-dup of it, and 30 distinct real docs
    val byId = docs.orderBy("doc_id")
    val boiler = byId.limit(1).select("text")
    val copies = spark.range(500).crossJoin(boiler)
      .select((col("id") + 100000).as("doc_id"), col("text"))
    val nearDups = spark.range(3).crossJoin(
        boiler.select(concat(col("text"), lit(" appended")).as("text")))
      .select((col("id") + 200000).as("doc_id"), col("text"))
    val distincts = byId.offset(1).limit(30)
    val corpus = distincts.unionAll(copies).unionAll(nearDups)

    // 1) the banded self-join is bounded by DISTINCT contents: the raw
    //    signature table floods >= 500*499/2 candidate pairs from the
    //    cluster alone; one-rep-per-digest keeps it under 34*33/2
    val sigs = Dedup.minhashSigs(corpus, "doc_id", "text", 64, 3)
    val candRaw = Dedup.bandedCandidates(sigs, bands = 16, r = 4).count()
    val candCollapsed = Dedup.bandedCandidates(
      sigs.dropDuplicates("dg"), bands = 16, r = 4).count()
    assert(candRaw >= 500L * 499 / 2, s"raw candidates: $candRaw")
    assert(candCollapsed <= 34L * 33 / 2,
      s"collapsed candidates not bounded by distinct contents: $candCollapsed")

    // 2) output semantics preserved: the production path emits the full
    //    expanded pair set with the values the uncollapsed plan produces
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text",
      k = 64, bands = 16, threshold = 0.5)
    val got = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val intra = got.filter(p => p._1 >= 100000 && p._2 < 200000)
    assert(intra.size == 500 * 499 / 2, s"intra pairs: ${intra.size}")
    assert(intra.forall(_._3 == 1.0), "exact-dup pair with jaccard != 1.0")
    val cross = got.filter(p => p._1 < 200000 && p._2 >= 200000)
    assert(cross.size >= 500 * 3, s"cross pairs: ${cross.size}")
    val crossJ = cross.filter(_._1 >= 100000).map(_._3)
    assert(crossJ.size == 1 || crossJ.forall(j => j >= 0.5 && j < 1.0),
      s"cross jaccards inconsistent: $crossJ")

    // 3) pairwise-equal to the uncollapsed reference plan
    val g = sigs.select(col("id"), col("sh"))
    val ref = Dedup.bandedCandidates(sigs, bands = 16, r = 4)
      .join(g.select(col("id").as("id_a"), col("sh").as("s_a")), Seq("id_a"))
      .join(g.select(col("id").as("id_b"), col("sh").as("s_b")), Seq("id_b"))
      .withColumn("jaccard",
        VectorExpressions.sortedJaccardAtLeast(col("s_a"), col("s_b"), 0.5))
      .filter(col("jaccard") >= 0.5)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == ref,
      s"collapse changed the pair set: +${(got -- ref).take(3)} -${(ref -- got).take(3)}")
  }

  test("minhash/ngram leave nothing persisted (temp-parquet barrier)") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      k = 64, bands = 16, threshold = 0.5)
    pairs.count() // materialize
    Dedup.ngramJaccardPairs(docs.limit(50), "doc_id", "text").count()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "signature cache leaked into the block manager")
  }

  test("banded embedding LSH: perfect recall vs exhaustive, ids-only shuffle, no hot bucket") {
    val planted = vecs.unionAll(vecs.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"),
          x => (x * lit(1.001f)).cast("float")).as("embedding")))
    // 1) result == exhaustive brute-force pair set (perfect recall here)
    val lshPairs = Similarity.embeddingNearDupPairs(planted,
        threshold = 0.98, bands = 8, rowsPerBand = 16)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = planted.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = planted.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val brute = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(Similarity.cosine(col("va"), col("vb")), 6))
      .filter(col("cos") >= 0.98)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "corpus lost its planted near-dup pairs")
    assert(lshPairs == brute,
      s"LSH missed ${(brute -- lshPairs).size}, invented ${(lshPairs -- brute).size}")
    // 2) no (band, bucket) group collects a corpus-scale fraction: with
    //    2^16 buckets per band the expected load is n/65536 ≪ 1; allow
    //    planted collisions (by design) plus random ones
    val maxBucket = planted
      .select(posexplode(Similarity.bandedHyperplaneSignatures(
        col("embedding"), 8, 16)))
      .groupBy("pos", "col").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxBucket <= 8, s"hot bucket of $maxBucket docs")
    // 3) the candidate shuffle carries (band, bucket, id) only — every
    //    exchange keyed by band+bucket has no vector column in its input
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    val bcWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // tiny test data broadcasts everything away — force the shuffle
      // path (the 100 TB shape) so the exchange contents are assertable
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = Similarity.embeddingNearDupPairs(planted,
        threshold = 0.98, bands = 8, rowsPerBand = 16)
        .queryExecution.executedPlan
      val candExchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.toString.contains("band") =>
          e
      }
      assert(candExchanges.nonEmpty, s"no band-keyed exchange in:\n$plan")
      candExchanges.foreach { e =>
        val carried = e.child.output.map(_.name)
        assert(!carried.exists(n => n == "v" || n.startsWith("embedding")),
          s"vector column through the candidate shuffle: $carried")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcWas)
    }
  }

  test("LSH ANN recall vs brute force") {
    val queries = vecs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(vecs, queries, k = 5)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(vecs, queries, k = 5, nPlanes = 8)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    // random synthetic vectors have weak neighbor structure; the hard
    // guarantee is the self-match below, recall is a soft floor
    assert(recall >= 0.2, s"LSH recall $recall too low")
    // self-match must always be found (query ∈ corpus, same bucket)
    assert((0L until 10L).forall(q => approx.contains((q, q))))
  }

  test("IVF ANN self-match and determinism") {
    val queries = vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val a = Similarity.ivfTopK(vecs, queries, k = 5).collect().toSeq
    val b = Similarity.ivfTopK(vecs, queries, k = 5).collect().toSeq
    assert(a == b) // deterministic across runs
    val top1 = Similarity.ivfTopK(vecs, queries, k = 1)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0L until 5L).forall(q => top1.contains((q, q))))
  }

  test("quality metrics handle empty and blank text") {
    import spark.implicits._
    val df = Seq((1L, ""), (2L, "   "), (3L, "the quick brown fox")).toDF("doc_id", "text")
    val out = TextAnalysis.withQuality(df).orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_tokens") == 0)
    assert(out(1).getAs[Long]("n_tokens") == 0)
    assert(out(0).getAs[Double]("stopword_ratio") == 0.0)
    assert(out(2).getAs[Long]("n_tokens") == 4)
    assert(out(2).getAs[Long]("n_stopwords") == 1)
  }

  test("language ID picks the stopword-dominant language") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat and the dog on the mat"),
      (2L, "der hund und die katze auf dem dach ist"),
      (3L, "le chat et le chien dans la maison est"),
      (4L, "el perro y la casa para el gato es"),
      (5L, "你好 世界"),
      (6L, "zzz qqq xxx")).toDF("doc_id", "text")
    val out = TextAnalysis.withLanguage(df).orderBy("doc_id")
      .select("lang_pred").collect().map(_.getString(0)).toSeq
    assert(out == Seq("en", "de", "fr", "es", "zh", "unknown"))
  }

  test("fingerprint is order-sensitive and deterministic") {
    import spark.implicits._
    val df = Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b c")).toDF("doc_id", "text")
    val fp = df.select(TextAnalysis.fingerprint(col("text")).as("f"))
      .collect().map(_.getLong(0))
    assert(fp(0) == fp(2))
    assert(fp(0) != fp(1))
  }

  test("applyPairs drops every planted duplicate") {
    val planted = docs.unionAll(docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" appended")).as("text")))
    val pairs = Dedup.minhashPairs(planted, "doc_id", "text",
      k = 64, bands = 16, threshold = 0.5)
    val kept = Dedup.applyPairs(planted, "doc_id", pairs)
    assert(kept.filter(col("doc_id") >= 1000000).count() == 0)
    assert(kept.count() > 0)
  }

  test("bpe-ish token count splits letter/digit/punct runs") {
    import spark.implicits._
    val df = Seq((1L, "hello world42 foo-bar!")).toDF("doc_id", "text")
    val n = df.select(TextAnalysis.bpeTokenCount(col("text"))).collect()(0).getInt(0)
    // hello | " world" | "42" | " foo" | "-" | "bar" | "!"
    assert(n == 7)
  }

  test("zero-norm and mismatched vectors rank last, never first") {
    import spark.implicits._
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val bad = Seq((9L, Seq(1.0f))).toDF("vec_id", "embedding")
    val queries = Seq((100L, Seq(1.0f, 0.0f))).toDF("qid", "qvec")
    val top = Similarity.bruteForceTopK(corpus.unionAll(bad), queries, 4)
      .orderBy("rank").collect()
    assert(top.map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L, 9L))
    assert(top(2).getDouble(2) == 0.0) // zero-norm -> 0, not NaN
    assert(top(3).isNullAt(2)) // dimension mismatch -> null
  }

  test("sessionize: exactly-30-min gap starts a new session, 1µs less does not") {
    import spark.implicits._
    import java.sql.Timestamp
    val base = 1700000000000000L // epoch µs
    def ts(us: Long) = {
      val t = new Timestamp((us / 1000000L) * 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }
    val df = Seq(
      (1L, 1L, ts(base)),
      (1L, 2L, ts(base + 1800000000L)),      // gap == 30 min → NEW session
      (2L, 3L, ts(base)),
      (2L, 4L, ts(base + 1800000000L - 1L))  // gap == 30 min - 1µs → same
    ).toDF("user_id", "event_id", "ts")
    val out = graft.operators.Pipeline.sessionize(df)
      .orderBy("user_id", "sess_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(2))).toSeq ==
      Seq((1L, 1L), (1L, 1L), (2L, 2L)))
  }

  test("connected components merge transitive near-dup chains") {
    import spark.implicits._
    // 1-2-3 only connect transitively (1 and 3 share no pair)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val comp = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("components reclaims level barriers eagerly (scratch ≤ 2 dirs)") {
    import spark.implicits._
    graft.Scratch.scoped(spark) {
      def lvlDirs = graft.Scratch.current(spark).barrierDirs
        .filter(d => d.getName.startsWith("graft-cc-level") ||
          d.getName.startsWith("graft-cc-contract")).toSet
      val before = lvlDirs
      // a 6-node chain needs several contraction levels to drain;
      // localBound = -1 forces the distributed path this spec targets
      val pairs = (1L until 6L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val comp = Dedup.componentsBounded(pairs, 50, localBound = -1L)
      assert(comp.collect().map(_.getLong(1)).toSet == Set(1L))
      // only the final comp dir (backing the returned plan) and its
      // feeding contract dir may remain live; every superseded level
      // must have been reclaimed as soon as the next one landed
      val added = lvlDirs -- before
      assert(added.size <= 2,
        s"level barriers piled up: ${added.mkString(", ")}")
    }
  }

  test("components: driver-side union-find == distributed label propagation") {
    import spark.implicits._
    // chains (deep), a clique, overlapping unions in adversarial order,
    // and disjoint singles — both strategies must produce identical
    // (doc_id -> min member) labels
    val pairs = (Seq((9L, 8L), (8L, 7L), (7L, 6L), (6L, 1L)) ++ // chain, desc
      Seq((20L, 21L), (20L, 22L), (21L, 22L)) ++                // clique
      Seq((31L, 40L), (40L, 35L), (30L, 31L)) ++                // late min
      Seq((50L, 51L))).toDF("id_a", "id_b")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = toMap(Dedup.componentsBounded(pairs, 50, Long.MaxValue))
    val dist = toMap(Dedup.componentsBounded(pairs, 50, -1L))
    assert(local == dist, s"local $local vs distributed $dist")
    assert(local(9L) == 1L && local(22L) == 20L && local(35L) == 30L)
  }

  test("components: hook-and-contract equals union-find on random " +
      "graphs, monotone chains included") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.propBoolean
    val caseGen = for {
      n <- Gen.choose(2, 25)
      // random edges over a small id space → many shapes: multi-edge,
      // self-ish pairs filtered by construction, several components
      edges <- Gen.listOfN(n, for {
        a <- Gen.choose(1L, 18L); b <- Gen.choose(1L, 18L)
        if a != b
      } yield (a, b))
      // plus a monotone chain — the adversary that makes min-hooking
      // shave one node per level (hash priorities must not care)
      chainLen <- Gen.choose(0, 8)
    } yield edges ++ (0 until chainLen).map(i =>
      (100L + i, 101L + i))
    val prop = Prop.forAll(caseGen) { edges =>
      (edges.nonEmpty) ==> {
        val pairs = edges.toDF("id_a", "id_b")
        def toMap(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val local = toMap(Dedup.componentsBounded(pairs, 50, Long.MaxValue))
        val dist = toMap(Dedup.componentsBounded(pairs, 50, -1L))
        (local == dist) :| s"edges=$edges local=$local dist=$dist"
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, s"cc equality property failed: ${res.status}")
  }

  test("incremental dedup: flags exactly the cross-split dups, bloom prunes the verify join") {
    val d = docs
    val corpus = d.filter(col("doc_id") < 250)
    val batch = d.filter(col("doc_id") >= 250)
      .unionAll(corpus.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
    val flags = Dedup.incrementalDupFlags(batch, corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(flags.size == batch.count())
    // every planted copy (id >= 1e6) is a dup; no false negatives
    val planted = flags.filter(_._1 >= 1000000)
    assert(planted.nonEmpty && planted.values.forall(identity))
    // natural batch rows whose text coincides with corpus text: recompute
    // the expected flags with a driver-side set and compare exactly
    val corpusTexts = corpus.select("text").collect().map(_.getString(0)).toSet
    val expected = batch.collect()
      .map(r => r.getLong(0) -> corpusTexts.contains(r.getString(1))).toMap
    assert(flags == expected)
  }

  test("incremental dedup touches every corpus row exactly once") {
    // the filter is sized and built from the BATCH side, so the corpus
    // must be scanned exactly once (the probe pass) — an accumulator
    // inside the corpus plan counts actual row evaluations
    val acc = spark.sparkContext.longAccumulator("corpus-rows")
    val touch = udf((s: String) => { acc.add(1); s }).asNondeterministic()
    val corpus = docs.filter(col("doc_id") < 250)
      .withColumn("text", touch(col("text")))
    val batch = docs.filter(col("doc_id") >= 250)
    Dedup.incrementalDupFlags(batch, corpus, "doc_id", "text").collect()
    val n = docs.filter(col("doc_id") < 250).count()
    assert(acc.value == n,
      s"corpus scanned ${acc.value.toDouble / n}x (rows touched ${acc.value} of $n)")
  }

  test("bloom prefilter passes every member and ~fpp of non-members") {
    import org.apache.spark.sql.graft.VectorExpressions
    val members = (0 until 2000).map(i => s"member-$i")
    val bf = org.apache.spark.util.sketch.BloomFilter.create(2000, 0.01)
    members.foreach(bf.putString)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos); bos.toByteArray
    }
    import spark.implicits._
    val probes = (members ++ (0 until 10000).map(i => s"other-$i")).toDF("s")
      .withColumn("hit", VectorExpressions.bloomMightContain(col("s"), bytes))
    val hits = probes.filter(col("hit")).select("s").collect()
      .map(_.getString(0)).toSet
    assert(members.forall(hits), "bloom filter dropped a member (false negative)")
    val fp = hits.count(_.startsWith("other-"))
    assert(fp <= 300, s"false-positive count $fp way above the 1% target")
  }

  test("column profile: exact counts, null handling, min/max, sketch gate") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("b"), Some(10L)), (2L, None, Some(20L)),
      (3L, Some("a"), None), (4L, Some("a"), Some(20L))
    ).toDF("id", "s", "v")
    val p = Corpus.profile(df, Seq("s", "v")).collect()
      .map(r => r.getString(0) -> r).toMap
    val s = p("s"); val v = p("v")
    assert(s.getLong(1) == 4 && s.getLong(2) == 1 && s.getLong(3) == 2)
    assert(s.getString(4) == "a" && s.getString(5) == "b")
    assert(v.getLong(2) == 1 && v.getLong(3) == 2)
    assert(v.getString(4) == "10" && v.getString(5) == "20")
    assert(s.getBoolean(6) && v.getBoolean(6))
  }

  test("representatives keep the best-quality member per cluster, singletons survive") {
    import spark.implicits._
    val scored = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.5),   // cluster {1,2,3} via pairs
      (7L, 0.1),                          // singleton
      (8L, 0.4), (9L, 0.4)                // tie → smaller id wins
    ).toDF("doc_id", "quality_score")
    val pairs = Seq((1L, 2L), (2L, 3L), (8L, 9L)).toDF("id_a", "id_b")
    val reps = Dedup.representatives(scored, "doc_id", pairs, "quality_score")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(reps == Set((1L, 2L, 3L), (7L, 7L, 1L), (8L, 8L, 2L)))
  }

  test("repeated-window stats: exact dup pair fully repeated, unique doc untouched, shared suffix partial") {
    import spark.implicits._
    val base = "The quick brown fox jumps over the lazy dog while the band plays on in the warm evening air."
    val other = "Completely different content that shares no fifty character window with anything else here at all."
    val suffix = " SHARED-BOILERPLATE-SUFFIX is exactly the same across documents."
    val df = Seq(
      (1L, base), (2L, base),                       // exact dup pair
      (3L, other),                                  // unique
      (4L, "Alpha document body before the suffix." + suffix),
      (5L, "A very different beta body before it." + suffix)
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedWindowStats(df, "doc_id", "text", n = 50)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L)._3 == 1.0 && out(2L)._3 == 1.0)
    assert(out(3L)._2 == 0L && out(3L)._3 == 0.0)
    // docs 4/5 share only the suffix-interior windows: some but not all
    assert(out(4L)._2 > 0 && out(4L)._3 < 1.0)
    assert(out(5L)._2 > 0 && out(5L)._3 < 1.0)
    // a repeated window count can never exceed the total
    assert(out.values.forall { case (w, r, _) => r <= w })
  }

  test("heavy hitters: CMS estimates never undercount, result equals exact filter") {
    val d = docs
    val out = Corpus.heavyHitters(d, minFraction = 0.002)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // exact ground truth via the plain aggregation
    val toks = d.select(explode(TextAnalysis.tokens(lower(col("text"))))
      .as("token"))
    val exact = toks.groupBy("token").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = exact.values.sum
    val threshold = math.ceil(total * 0.002).toLong
    val expected = exact.filter(_._2 >= threshold)
    assert(out == expected,
      s"heavy-hitter set mismatch: got ${out.size}, want ${expected.size}")
    assert(out.nonEmpty)
  }

  test("keywords: doc-unique token outranks corpus-wide token, ranks dense per doc") {
    import spark.implicits._
    val df = Seq(
      (1L, "common common zebra zebra zebra"),
      (2L, "common plain words here"),
      (3L, "common plain other words")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.keywords(df, "doc_id", "text", k = 2).collect()
      .map(r => (r.getLong(0), r.getInt(5)) -> r.getString(1)).toMap
    // zebra: tf=3, df=1 → score 3.0 beats common tf=2/df=3
    assert(out((1L, 1)) == "zebra")
    assert(out((1L, 2)) == "common")
    // every doc emits exactly k ranks 1..2
    assert(out.keys.groupBy(_._1).values.forall(_.toSet.map(
      (x: (Long, Int)) => x._2) == Set(1, 2)))
  }

  test("BandHashes property: band keys collide exactly when the band slices match") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.graft.BandHashes
    val rnd = new scala.util.Random(42)
    val bands = 8; val r = 4
    (1 to 200).foreach { _ =>
      val a = Array.fill(bands * r)(rnd.nextLong())
      // b = a with one band mutated, other bands identical
      val mutBand = rnd.nextInt(bands)
      val b = a.clone()
      b(mutBand * r + rnd.nextInt(r)) += 1
      val ha = BandHashes.compute(new GenericArrayData(a), bands, r)
      val hb = BandHashes.compute(new GenericArrayData(b), bands, r)
      (0 until bands).foreach { band =>
        if (band == mutBand)
          assert(ha.getLong(band) != hb.getLong(band),
            "mutated band produced a colliding key")
        else
          assert(ha.getLong(band) == hb.getLong(band),
            "identical band produced a different key")
      }
    }
  }

  test("CountMinEstimate property: never underestimates any token's true count") {
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.graft.CountMinEstimate
    val rnd = new scala.util.Random(7)
    val cms = org.apache.spark.util.sketch.CountMinSketch.create(
      0.0001, 0.99, 42)
    val counts = (0 until 500).map { i =>
      val tok = s"tok-$i"
      val n = 1 + rnd.nextInt(50)
      (1 to n).foreach(_ => cms.addString(tok))
      tok -> n.toLong
    }
    val bytes = cms.toByteArray
    counts.foreach { case (tok, n) =>
      val est = CountMinEstimate.estimate(bytes, UTF8String.fromString(tok))
      assert(est >= n, s"$tok: estimate $est < true $n")
    }
  }

  test("canonicalText: composed and decomposed accents unify, whitespace collapses") {
    import spark.implicits._
    val composed = "Caf\u00e9  du   Monde"
    val decomposed = "Cafe\u0301  du   Monde"
    val out = Seq((1L, composed), (2L, decomposed), (3L, "plain ascii"))
      .toDF("id", "text")
      .select(col("id"), TextAnalysis.canonicalText(col("text")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == out(2L), "NFC did not unify accent encodings")
    assert(out(1L) == "caf\u00e9 du monde")
    assert(out(3L) == "plain ascii")
  }

  test("pii redaction counts and masks emails and phones") {
    import spark.implicits._
    val df = Seq(
      (1L, "reach me at a.b+c@mail.example.org or 555-123-4567 today"),
      (2L, "no pii here")).toDF("doc_id", "text")
    val out = Corpus.withPiiRedacted(df).orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_emails") == 1)
    assert(out(0).getAs[Long]("n_phones") == 1)
    assert(out(0).getAs[String]("redacted") ==
      "reach me at <EMAIL> or <PHONE> today")
    assert(out(1).getAs[Long]("n_emails") == 0)
    assert(out(1).getAs[String]("redacted") == "no pii here")
  }

  test("train/val/test split is deterministic with sane fractions") {
    import spark.implicits._
    val df = (0L until 1000L).toDF("id")
      .select(col("id"), Corpus.splitColumn(col("id")).as("split"))
    val counts = df.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // expected ~ 13/16, 2/16, 1/16
    assert(counts("train") > 700 && counts("train") < 900, counts)
    assert(counts("val") > 50 && counts("test") > 20, counts)
    val again = (0L until 1000L).toDF("id")
      .select(Corpus.splitColumn(col("id"))).collect().toSeq
    assert(df.select("split").collect().toSeq == again)
  }

  test("sequence packing: bins are contiguous and respect the running budget") {
    import spark.implicits._
    val df = (1L to 20L).map(i => ("s", i, Seq.fill(600)("w").mkString(" ")))
      .toDF("source", "doc_id", "text")
    // 600 tokens/doc, budget 2048: doc offsets 0,600,1200,1800,2400… →
    // bins 0,0,0,0,1,…: 2048/600 boundary puts docs 1-4 in bin 0
    val out = Corpus.packSequences(df, budget = 2048)
      .orderBy("bin").collect()
    assert(out.head.getAs[Long]("bin") == 0 && out.head.getAs[Long]("n_docs") == 4)
    val bins = out.map(_.getAs[Long]("bin")).toSeq
    assert(bins == (0L until bins.length).toSeq) // contiguous
  }

  test("sequence packing: multi-source bins equal a driver replay of " +
      "the per-source greedy cumsum") {
    // the r11 two-phase rewrite derives in-source offsets from the
    // global cumsum; replay the per-source greedy packing on the
    // driver and compare bin-for-bin across uneven sources
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (1L to 120L).map { i =>
      val src = s"s${i % 5}"
      val nTok = 1 + rnd.nextInt(900)
      (src, i, Seq.fill(nTok)("w").mkString(" "))
    }
    val got = Corpus.packSequences(rows.toDF("source", "doc_id", "text"),
        budget = 1024)
      .orderBy("source", "bin")
      .collect()
      .map(r => (r.getString(0), r.getAs[Long]("bin"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens")))
      .toSeq
    val want = rows.groupBy(_._1).toSeq.flatMap { case (src, ds) =>
      var cum = 0L
      ds.sortBy(_._2).map { case (_, _, text) =>
        val nt = text.split("\\s+").length.toLong
        val bin = cum / 1024
        cum += nt
        (src, bin, nt)
      }.groupBy(_._2).toSeq.map { case (bin, xs) =>
        (src, bin, xs.size.toLong, xs.map(_._3).sum)
      }
    }.sortBy(t => (t._1, t._2))
    assert(got == want, s"got=$got\nwant=$want")
  }

  test("mixSources: rate-1 keeps all, rate-0 drops all, rates are per-source and deterministic") {
    val d = docs.limit(100)
      .withColumn("source",
        when(col("doc_id") % 2 === 0, "keepall").otherwise("dropall"))
    val keepDrop = Corpus.mixSources(d,
      Map("keepall" -> 1.0, "dropall" -> 0.0))
    assert(keepDrop.filter(col("source") === "dropall").count() == 0)
    assert(keepDrop.count() == d.filter(col("source") === "keepall").count())
    // unknown sources fall back to defaultRate
    assert(Corpus.mixSources(d, Map.empty, defaultRate = 1.0).count()
      == d.count())
    // fractional rate: deterministic across runs, strictly between bounds
    val half = Corpus.mixSources(d, Map.empty, defaultRate = 0.5)
    assert(half.count() == Corpus.mixSources(d, Map.empty,
      defaultRate = 0.5).count())
    assert(half.count() > 0 && half.count() < d.count())
    // salting: the kept-id set differs between two sources at rate 0.5
    val bySrc = Corpus.mixSources(
      d.withColumn("source", lit("a"))
        .unionAll(d.withColumn("source", lit("b"))),
      Map("a" -> 0.5, "b" -> 0.5))
    val aIds = bySrc.filter(col("source") === "a")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val bIds = bySrc.filter(col("source") === "b")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(aIds != bIds)
  }

  test("shardBy: shards cover [0,n), are stable, and roughly balanced") {
    val sharded = Corpus.shardBy(docs, nShards = 8)
    val counts = sharded.groupBy("shard").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.keySet.forall(s => s >= 0 && s < 8))
    // md5 uniformity: every shard populated, none above 2x ideal share
    val total = counts.values.sum
    assert(counts.size == 8)
    assert(counts.values.max <= 2 * total / 8)
    // stability: identical assignment on recompute
    val again = Corpus.shardBy(docs, nShards = 8)
      .groupBy("shard").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == counts)
  }

  test("charEntropy: degenerate text scores low, varied text high, values exact") {
    import spark.implicits._
    val d = Seq(
      (1L, "aaaaaaaa"),           // 1 symbol → 0 bits
      (2L, "abababab"),           // 2 equiprobable symbols → 1 bit
      (3L, "abcdefgh"),           // 8 equiprobable symbols → 3 bits
      (4L, "the quick brown fox jumps over a lazy dog")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.charEntropy(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getDouble(3) == 0.0 && !out(1L).getBoolean(4))
    assert(out(2L).getDouble(3) == 1.0)
    assert(out(3L).getDouble(3) == 3.0 && out(3L).getBoolean(4))
    assert(out(4L).getDouble(3) > 3.5) // natural text ≈ 4+ bits/char
    assert(out(4L).getLong(1) == 41 && out(4L).getLong(2) > 20)
    // empty text: 0 chars, 0 bits, no crash from the descending-sequence edge
    val empty = TextAnalysis.charEntropy(
      Seq((9L, "")).toDF("doc_id", "text")).head()
    assert(empty.getLong(1) == 0 && empty.getLong(2) == 0 &&
      empty.getDouble(3) == 0.0)
  }

  test("paragraph dedup strips corpus-wide boilerplate, keeps rare paragraphs") {
    import spark.implicits._
    val boiler = "subscribe now"
    val d = Seq(
      (1L, s"alpha one\n\n$boiler"),
      (2L, s"beta two\n\n$boiler"),
      (3L, s"gamma three\n\n$boiler\n\nrare pair"),
      (4L, s"delta four\n\nrare pair"),
      (5L, boiler) // all-boilerplate doc: everything stripped
    ).toDF("doc_id", "text")
    val byId = Corpus.paragraphDedup(d, minDocs = 3).collect()
      .map(r => r.getLong(0) -> r).toMap
    // boiler is in 4 docs (>= 3) → removed; "rare pair" in 2 → kept
    assert(byId(1L).getLong(1) == 2 && byId(1L).getLong(2) == 1 &&
      byId(1L).getLong(3) == 1)
    assert(byId(3L).getLong(1) == 3 && byId(3L).getLong(2) == 2)
    assert(byId(5L).getLong(2) == 0 && byId(5L).getLong(3) == 1)
    // reassembly preserves order and separator: doc 4 survives intact
    val expect4 = java.security.MessageDigest.getInstance("MD5")
      .digest("delta four\n\nrare pair".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(byId(4L).getString(4) == expect4)
    // fully-stripped doc hashes the empty string
    assert(byId(5L).getString(4) == "d41d8cd98f00b204e9800998ecf8427e")
  }

  test("contamination flags a shared 13-gram, not disjoint docs") {
    import spark.implicits._
    val shared = (1 to 20).map(i => s"tok$i").mkString(" ")
    val corpus = Seq(
      (1L, shared + " trailing extras here"),
      (2L, (100 to 130).map(i => s"other$i").mkString(" "))).toDF("doc_id", "text")
    val bench = Seq((9L, "prefix words " + shared)).toDF("doc_id", "text")
    val out = Corpus.contaminated(corpus, bench).orderBy("doc_id").collect()
    assert(out(0).getBoolean(1) === true)
    assert(out(1).getBoolean(1) === false)
  }

  test("streaming bloom dedup vs static history matches the batch recompute") {
    import graft.streaming.Streams
    val dir = sf
    val batch = graft.Tables.load(spark, dir, "events")
    val (hashes, bytes) = Streams.historyFixture(batch, 500L)
    val out = Streams.runToMemory(spark,
      Streams.dedupAgainstHistory(
        Streams.eventsStream(spark, dir).filter(col("event_id") >= 500),
        hashes, bytes),
      "spec_s07", outputMode = "append")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val expected = batch.filter(col("event_id") >= 500)
      .select(col("event_id"),
        md5(concat_ws("|", col("event_type"),
          col("user_id").cast("string"), col("props"))).as("h"))
      .join(hashes.withColumn("d", lit(true)), Seq("h"), "left")
      .select(col("event_id"), coalesce(col("d"), lit(false)).as("is_dup"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out == expected)
    assert(out.values.exists(identity) && out.values.exists(!_))
  }

  test("streaming dedup drops every duplicate within the watermark") {
    import spark.implicits._
    import java.sql.Timestamp
    val rows = (1L to 50L).map(i =>
      (i % 10, new Timestamp(1700000000000L + i * 1000), s"t${i % 3}"))
    val df = rows.toDF("event_id", "ts", "event_type")
    val dir = java.nio.file.Files.createTempDirectory("dedup-stream-spec").toString
    df.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(df.schema).parquet(dir)
    val deduped = graft.streaming.Streams.dedupStream(stream)
    val q = deduped.writeStream.format("memory").queryName("spec_dedup")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("spec_dedup").count() == 10) // 50 rows, 10 distinct ids
  }

  test("multimodal decode: real PNG/JPEG headers match ImageIO ground truth") {
    import spark.implicits._
    def imageBytes(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, out)
      out.toByteArray
    }
    val png = imageBytes("png", 37, 21)
    val jpg = imageBytes("jpg", 128, 64)
    val df = Seq((1L, png), (2L, jpg)).toDF("doc_id", "media")
    val out = Multimodal.withDecodedMeta(df).orderBy("doc_id")
      .select("meta.format", "meta.width", "meta.height", "meta.n_bytes")
      .collect()
    assert(out(0).getString(0) == "png" &&
      out(0).getInt(1) == 37 && out(0).getInt(2) == 21 &&
      out(0).getLong(3) == png.length)
    assert(out(1).getString(0) == "jpeg" &&
      out(1).getInt(1) == 128 && out(1).getInt(2) == 64 &&
      out(1).getLong(3) == jpg.length)
  }

  test("multimodal decode stub: schema and determinism") {
    val withMedia = docs.limit(10)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("media"))
    val out = Multimodal.withDecodedMeta(withMedia)
    assert(out.schema("meta").dataType == Multimodal.metaSchema)
    val a = out.select("doc_id", "meta").collect().toSeq
    val b = Multimodal.withDecodedMeta(withMedia)
      .select("doc_id", "meta").collect().toSeq
    assert(a == b)
    val widths = out.select("meta.width").collect().map(_.getInt(0))
    assert(widths.forall(w => w >= 64 && w < 64 + 1920))
  }

  test("fuzzy join: PassJoin candidates find EXACTLY the brute-force pairs") {
    // The pigeonhole is a theorem — candidate recall must be perfect on
    // ANY corpus, so assert operator == exhaustive cross-join verify on
    // real document prefixes with adversarial plants: substitutions at
    // segment boundaries, a deletion, an insertion, and a 2-edit combo
    // (each shifts segment alignments differently).
    val base = docs.limit(120)
      .select(col("doc_id"), substring(col("text"), 1, 24).as("k"))
      .filter(length(col("k")) === 24)
    val plants = base.limit(20).select((col("doc_id") + 5000).as("doc_id"),
      concat(substring(col("k"), 1, 7), lit("X"),
        substring(col("k"), 9, 7), lit("Y"),
        substring(col("k"), 17, 8)).as("k")) // 2 subs in different segments
      .unionAll(base.limit(10).select((col("doc_id") + 6000).as("doc_id"),
        concat(substring(col("k"), 1, 11),
          substring(col("k"), 13, 12)).as("k"))) // deletion (len 23)
      .unionAll(base.limit(10).select((col("doc_id") + 7000).as("doc_id"),
        concat(substring(col("k"), 1, 17), lit("zz"),
          substring(col("k"), 18, 7)).as("k"))) // 2-char insertion (len 26)
    val corpus = base.unionAll(plants)
    val got = Fuzzy.editDistancePairs(corpus, "doc_id", "k", maxDist = 2)
      .select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val a = corpus.select(col("doc_id").as("ia"), col("k").as("ka"))
    val b = corpus.select(col("doc_id").as("ib"), col("k").as("kb"))
    val brute = a.crossJoin(b).filter(col("ia") < col("ib"))
      .withColumn("d", levenshtein(col("ka"), col("kb")))
      .filter(col("d") <= 2)
      .select("ia", "ib", "d").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(brute.nonEmpty, "plants produced no within-distance pairs")
    assert(got == brute,
      s"missing: ${(brute -- got).take(5)}; extra: ${(got -- brute).take(5)}")
  }

  test("PassJoin recall property: any ≤d-edit neighbor shares a key (seeded fuzz)") {
    import org.apache.spark.sql.graft.PassJoinKeys
    import org.apache.spark.unsafe.types.UTF8String
    def keys(s: String, d: Int, probe: Boolean): Set[Long] = {
      val a = PassJoinKeys.compute(UTF8String.fromString(s), d, probe)
      (0 until a.numElements()).map(a.getLong).toSet
    }
    val rnd = new scala.util.Random(42) // fixed seed — deterministic
    val alpha = "abcdefgh"
    def randStr(n: Int) =
      (1 to n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    var checked = 0
    for (_ <- 1 to 300) {
      val d = 2
      val len = 3 + rnd.nextInt(38) // lengths 3..40 incl. the degenerate low end
      val s = randStr(len)
      // apply 1..d random edits
      var t = s
      for (_ <- 1 to 1 + rnd.nextInt(d)) {
        val op = rnd.nextInt(3)
        val pos = rnd.nextInt(math.max(t.length, 1))
        t = op match {
          case 0 if t.nonEmpty => // substitution
            t.updated(pos, alpha(rnd.nextInt(alpha.length)))
          case 1 if t.length > 1 => t.take(pos) + t.drop(pos + 1) // deletion
          case _ => // insertion
            t.take(pos) + alpha(rnd.nextInt(alpha.length)) + t.drop(pos)
        }
      }
      // the operator's contract excludes strings shorter than d+1
      if (t.length >= d + 1) {
        val (shorter, longer) = if (s.length <= t.length) (s, t) else (t, s)
        val shared = keys(longer, d, probe = true)
          .intersect(keys(shorter, d, probe = false))
        assert(shared.nonEmpty,
          s"pigeonhole violated: '$s' vs '$t' share no key")
        checked += 1
      }
    }
    assert(checked > 250, s"only $checked cases exercised")
  }

  test("small exact-dup clusters yield all intra pairs at jaccard 1.0") {
    // 3 identical copies: whether the collapse engages or the copies go
    // through banding (identical signatures always meet in every band),
    // the OUTPUT must contain all 3 intra pairs at exactly 1.0 — the
    // path-independence invariant that let the collapse threshold be
    // tuned on measurements alone.
    val base = docs.limit(30)
    val copies = docs.limit(1).select(lit(8001L).as("doc_id"), col("text"))
      .unionAll(docs.limit(1).select(lit(8002L).as("doc_id"), col("text")))
    val corpus = base.unionAll(copies)
    val origId = docs.limit(1).select("doc_id").head().getLong(0)
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text",
      k = 64, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val intra = pairs.filter { case (a, b, _) =>
      Set(origId, 8001L, 8002L).contains(a) &&
        Set(origId, 8001L, 8002L).contains(b) }
    assert(intra.length == 3, s"expected 3 intra pairs, got ${intra.toSeq}")
    assert(intra.forall(_._3 == 1.0), intra.toSeq.toString)
  }

  test("fuzzy join: mega-cluster of identical strings is pre-collapsed") {
    import spark.implicits._
    // 300 byte-identical copies + a typo'd neighbor + unrelated strings:
    // without the collapse, the copies collide on EVERY segment key and
    // the candidate join emits ~300²/2 pairs; with it, candidates over
    // the representative set are bounded by DISTINCT strings while the
    // OUTPUT still contains all intra-cluster pairs (dist 0) and every
    // copy pairs with the typo'd neighbor.
    val copies = (1L to 300L).map(i => (i, "the exact same title here ok"))
    val corpus = (copies ++ Seq(
      (400L, "the exact same title here oX"), // dist 1 from the cluster
      (500L, "completely different string !!"))).toDF("doc_id", "text")
    val out = Fuzzy.editDistancePairs(corpus, "doc_id", "text", maxDist = 2)
    val n = out.count()
    // 300 choose 2 intra + 300 cross pairs with the typo
    assert(n == 300L * 299 / 2 + 300, s"pair count $n")
    assert(out.filter(col("dist") === 0).count() == 300L * 299 / 2)
    assert(out.filter(col("id_b") === 400L).count() == 300)
    // the candidate join over the pre-collapsed set sees DISTINCT
    // strings only: 2 within-distance strings + 1 far one → at most
    // (3 choose 2) candidates, not ~45k
    val reps = corpus.groupBy("text").agg(min("doc_id").as("id"))
      .select(col("id"), col("text").as("s"))
    val cand = Fuzzy.candidates(reps, 2).count()
    assert(cand <= 3, s"collapsed candidate count $cand")
  }

  test("fuzzy join: short strings (≤ maxDist chars) pair via the rescue bucket") {
    import spark.implicits._
    // strings too short to carve d+1 segments emit no PassJoin keys —
    // before the rescue bucket, ('ab','ac') at d=2 was silently dropped
    // while identical shorts still paired via the collapse path. Assert
    // operator == brute force on a corpus mixing short, boundary-length
    // (d+1, 2d, 2d+1) and long strings.
    val corpus = Seq(
      (1L, "ab"), (2L, "ac"), (3L, "a"), (4L, ""), (5L, "abcd"),
      (6L, "abc"), (7L, "abcde"), (8L, "zzzz"), (9L, "ab"),
      (10L, "a completely different long string")).toDF("doc_id", "s")
    val got = Fuzzy.editDistancePairs(corpus, "doc_id", "s", maxDist = 2)
      .select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val a = corpus.select(col("doc_id").as("ia"), col("s").as("sa"))
    val b = corpus.select(col("doc_id").as("ib"), col("s").as("sb"))
    val brute = a.crossJoin(b).filter(col("ia") < col("ib"))
      .withColumn("d", levenshtein(col("sa"), col("sb")))
      .filter(col("d") <= 2)
      .select("ia", "ib", "d").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(brute.contains((1L, 2L, 1)), "sanity: ab/ac must be a true pair")
    assert(got == brute,
      s"missing: ${(brute -- got).take(8)}; extra: ${(got -- brute).take(8)}")
  }

  test("graft.barrier.dir routes barriers through the Hadoop FileSystem API") {
    // point the barrier root at an explicit file:// URI (exercising the
    // scheme-resolution path a cluster would use for hdfs://s3a) and
    // assert (a) results are unchanged, (b) the barriers — including the
    // fuzzy collapse path's dup index, so barrierRowCount's listStatus
    // footer probe ran against the configured FS — actually land under
    // it, and (c) closing the scope empties the configured root
    val root = java.nio.file.Files.createTempDirectory("graft-conf-root-")
    spark.conf.set("graft.barrier.dir", root.toUri.toString)
    try graft.Scratch.scoped(spark) {
      val planted = docs.limit(40).unionAll(docs.limit(5)
        .select((col("doc_id") + 9000).as("doc_id"), col("text")))
      val pairs = Dedup.minhashPairs(planted, "doc_id", "text",
        k = 64, bands = 16, threshold = 0.5)
      assert(pairs.filter(col("jaccard") === 1.0).count() >= 5)
      // force the aggregated fallback (sketch disabled) so the dup
      // barrier write AND barrierRowCount's listStatus footer probe run
      // against the configured FS too
      val sigs = Dedup.materializeBarrier(
        Dedup.minhashSigs(planted, "doc_id", "text", 64, 3), "conf-sigs")
      val agg = Dedup.lshCollapsedPairs(sigs, "sh", 16, 4, 0.5, None)
      assert(agg.filter(col("jaccard") === 1.0).count() >= 5)
      val under = graft.Scratch.current(spark).barrierDirs.filter(p =>
        p.toUri.getPath.startsWith(root.toString))
      assert(under.exists(_.getName.startsWith("graft-minhash-sigs-")))
      assert(under.exists(_.getName.startsWith("graft-lsh-dups-")))
    } finally spark.conf.unset("graft.barrier.dir")
    val left = java.nio.file.Files.list(root)
    try assert(left.count() == 0, "closed scope left barriers in the root")
    finally left.close()
    graft.Scratch.rmTree(root.toFile)
  }

  test("dup-cluster sketch: exact below caps, null on overflow, null digests skipped") {
    import spark.implicits._
    import org.apache.spark.sql.graft.VectorExpressions
    val df = Seq(
      (1L, "a"), (2L, "a"), (3L, "b"), (4L, "c"), (5L, "a"), (6L, "c"))
      .toDF("id", "dg")
      .unionAll(Seq((7L, null.asInstanceOf[String])).toDF("id", "dg"))
      .repartition(8) // several partial buffers force real merges
    // exact: clusters a -> {1,2,5}, c -> {4,6}; b singleton dropped;
    // null digest ignored
    val got = df.agg(VectorExpressions
        .dupClusterSketch(col("dg"), col("id")).as("s"))
      .head().getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2).toList))
    assert(got == Seq(("a", 1L, List(1L, 2L, 5L)), ("c", 4L, List(4L, 6L))))
    // overflow: caps exceeded anywhere -> null result ("don't know")
    def capped(digestCap: Int, idCap: Int) =
      df.coalesce(1).agg(VectorExpressions.dupClusterSketchCapped(
        col("dg"), col("id"), digestCap, idCap).as("s")).head()
    assert(capped(2, 1000).isNullAt(0), "digest-cap overflow must be null")
    assert(capped(1000, 3).isNullAt(0), "id-cap overflow must be null")
    // exactly at the caps: 3 digests, 6 ids -> still exact
    assert(!capped(3, 6).isNullAt(0))
  }

  test("minhash pairs: sketch path == distributed-aggregate fallback, pair for pair") {
    // the same planted corpus through both prologues must produce the
    // identical pair set with identical jaccards — the sketch may only
    // change WHERE the dup index is computed, never the result
    val planted = docs.limit(60).unionAll(docs.limit(8)
      .select((col("doc_id") + 9000).as("doc_id"), col("text")))
    val viaSketch = Dedup.minhashPairs(planted, "doc_id", "text",
      k = 64, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val (sigs, sketch) = Dedup.materializeSigsWithDupIndex(
      Dedup.minhashSigs(planted, "doc_id", "text", 64, 3), "spec-sigs")
    assert(sketch.isDefined && sketch.get.nonEmpty, "sketch must resolve")
    val viaAgg = Dedup.lshCollapsedPairs(sigs, "sh", 16, 4, 0.5, None)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaSketch == viaAgg,
      s"missing: ${(viaAgg -- viaSketch).take(5)}; extra: ${(viaSketch -- viaAgg).take(5)}")
  }

  test("dedup index: appends only novel digests, keeps first-seen ids, compaction preserves content") {
    import spark.implicits._
    val dir = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      "graft_spec", "dedup_index").toString
    DedupIndex.drop(spark, dir)
    // batch 1: two contents, one duplicated within the batch (min wins)
    val b1 = Seq((5L, "alpha"), (3L, "alpha"), (7L, "beta"))
      .toDF("doc_id", "text")
    assert(DedupIndex.append(spark, dir, b1, "doc_id", "text") == 2)
    // batch 2: one known content (must NOT re-enter, even with a
    // smaller id), one novel
    val b2 = Seq((1L, "alpha"), (9L, "gamma")).toDF("doc_id", "text")
    assert(DedupIndex.append(spark, dir, b2, "doc_id", "text") == 1)
    def snapshot() = DedupIndex.read(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val before = snapshot()
    val md5of = Map(
      "alpha" -> "2c1743a391305fbf367df8e4f069f9f9",
      "beta" -> "987bcab01b929eb2c07877b224215c92",
      "gamma" -> "05b048d7242cb7b8b57cfa3b1d65ecea")
    assert(before == Map(md5of("alpha") -> 3L, md5of("beta") -> 7L,
      md5of("gamma") -> 9L))
    // compaction: content identical, files bounded
    val filesBefore = DedupIndex.fileCount(spark, dir)
    DedupIndex.compact(spark, dir)
    assert(snapshot() == before)
    assert(DedupIndex.fileCount(spark, dir) <= filesBefore)
    // the incremental probe against the index equals the text recompute
    val batch = Seq((20L, "alpha"), (21L, "delta")).toDF("doc_id", "text")
    val corpus = b1.unionAll(b2)
    val viaIndex = Dedup.incrementalDupFlagsAgainst(batch,
      DedupIndex.read(spark, dir).select("h"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val viaText = Dedup.incrementalDupFlags(batch, corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(viaIndex == Map(20L -> true, 21L -> false))
    assert(viaIndex == viaText)
    DedupIndex.drop(spark, dir)
  }

  test("splitByCluster: no pair straddles splits; singletons match the id split") {
    val planted = docs.unionAll(docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" appended")).as("text")))
    val pairs = Dedup.minhashPairs(planted, "doc_id", "text",
      k = 64, bands = 16, threshold = 0.5)
    val split = Corpus.splitByCluster(planted, "doc_id", pairs)
    // leakage invariant: both ends of EVERY near-dup pair get one split
    val straddle = pairs
      .join(split.select(col("doc_id").as("id_a"), col("split").as("sa")),
        Seq("id_a"))
      .join(split.select(col("doc_id").as("id_b"), col("split").as("sb")),
        Seq("id_b"))
      .filter(col("sa") =!= col("sb"))
    assert(straddle.count() == 0)
    // docs in no pair keep the plain id-hash assignment
    val lonely = split
      .join(pairs.select(col("id_a").as("doc_id"))
        .unionAll(pairs.select(col("id_b").as("doc_id"))).distinct(),
        Seq("doc_id"), "left_anti")
      .withColumn("plain", Corpus.splitColumn(col("doc_id")))
    assert(lonely.count() > 0)
    assert(lonely.filter(col("split") =!= col("plain")).count() == 0)
  }

  test("contamination fraction: frac>0 iff boolean flag, benchmark members hit 1.0") {
    val bench = docs.filter(col("doc_id") % 100 === 0)
    val frac = Corpus.contaminationFraction(docs, bench, n = 13)
    val flag = Corpus.contaminated(docs, bench, n = 13)
    val joined = frac.join(flag, Seq("doc_id"))
    assert(joined.filter(
      (col("contaminated_frac") > 0) =!= col("contaminated")).count() == 0)
    // a benchmark member shares every window with itself
    assert(joined.join(bench.select("doc_id"), Seq("doc_id"), "left_semi")
      .filter(col("contaminated_frac") =!= 1.0).count() == 0)
  }

  test("p91: importanceWeights matches exact driver-side recomputation") {
    import spark.implicits._
    val corpus = Seq((0L, "the cat sat on the mat"),
      (1L, "dog runs fast here today"), (2L, "   "),
      (3L, "the the cat cat zebra")).toDF("doc_id", "text")
    val target = corpus.filter(col("doc_id") < 2)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(t: String): Int =
      Integer.parseInt(md5hex(t).substring(0, 2), 16)
    def toks(s: String): Array[String] = {
      val w = s.toLowerCase.replaceAll("^\\s+|\\s+$", "")
      if (w.isEmpty) Array.empty else w.split("\\s+")
    }
    val all = Map(0L -> "the cat sat on the mat",
      1L -> "dog runs fast here today", 2L -> "   ",
      3L -> "the the cat cat zebra")
    val rawCnt = all.values.flatMap(toks).map(bucket)
      .groupBy(identity).map { case (b, xs) => b -> xs.size }
    val tgtCnt = (0L to 1L).flatMap(q => toks(all(q))).map(bucket)
      .groupBy(identity).map { case (b, xs) => b -> xs.size }
    val rt = rawCnt.values.sum.toDouble
    val tt = tgtCnt.values.sum.toDouble
    def expect(id: Long): (Long, Double) = {
      val ts = toks(all(id))
      if (ts.isEmpty) (0L, 0.0)
      else {
        val s = ts.map { t =>
          val b = bucket(t)
          math.log(tgtCnt.getOrElse(b, 0) + 1.0) -
            math.log(rawCnt(b) + 1.0)
        }.sum + ts.length * (math.log(rt + 256) - math.log(tt + 256))
        (ts.length.toLong, BigDecimal(s)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }
    val got = Corpus.importanceWeights(corpus, target).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    (0L to 3L).foreach(id => assert(got(id) == expect(id),
      s"doc $id: got ${got(id)}, want ${expect(id)}"))
    // target docs score above the non-target doc with novel vocabulary
    assert(got(0L)._2 > got(3L)._2 && got(1L)._2 > got(3L)._2)
  }

  test("importanceKeep: rate edges exact, keep fraction tracks the rate, matches sampleHash") {
    import spark.implicits._
    val ids = spark.range(0, 20000).select(col("id").as("doc_id"))
    // edges: 1 keeps all (incl. the 2^32 threshold that would truncate
    // as 8-char hex), 0 drops all
    assert(ids.filter(!Corpus.importanceKeep(col("doc_id"), lit(1.0)))
      .count() == 0)
    assert(ids.filter(Corpus.importanceKeep(col("doc_id"), lit(0.0)))
      .count() == 0)
    // a constant per-row rate must agree with sampleHash row for row
    val viaVar = ids.filter(Corpus.importanceKeep(col("doc_id"), lit(0.2)))
      .collect().map(_.getLong(0)).toSet
    val viaConst = ids.filter(Corpus.sampleHash(col("doc_id"), 0.2))
      .collect().map(_.getLong(0)).toSet
    assert(viaVar == viaConst)
    // variable rate: E[kept] = mean(rate) within sampling noise
    val rate = (col("doc_id") % 10).cast("double") / 10.0 // mean 0.45
    val kept = ids.filter(Corpus.importanceKeep(col("doc_id"), rate)).count()
    assert(math.abs(kept / 20000.0 - 0.45) < 0.02,
      s"keep fraction ${kept / 20000.0} far from 0.45")
  }

  test("sparse cosine: df-pruning drops stopword-only pairs, keeps real ones") {
    import spark.implicits._
    // docs 1/2 share ONLY the ubiquitous token "the" (df > maxDf after
    // the fillers); docs 3/4 share five rare tokens. With maxDf = 5 the
    // stopword leaves the similarity space entirely — so the (1,2) pair
    // never even becomes a join candidate — while (3,4) survives with a
    // cosine computable by hand over the pruned space.
    val corpus = (Seq(
      (1L, "the alpha beta gamma"),
      (2L, "the delta epsilon zeta"),
      (3L, "the shared sentence of words here"),
      (4L, "the shared sentence of words here too")) ++
      (5L to 30L).map(i => (i, s"the filler$i")))
      .toDF("doc_id", "text")
    val out = Similarity.sparseCosinePairs(corpus, "doc_id", "text",
      threshold = 0.5, maxDf = 5)
    val pairs = out.select("id_a", "id_b", "cosine").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(!pairs.contains((1L, 2L)),
      "stopword-only pair leaked through the df cap")
    // pruned space: doc 3 = 5 rare tokens, doc 4 = those 5 + "too";
    // cosine = 5 / sqrt(5 * 6)
    val expected = math.rint(5.0 / math.sqrt(30.0) * 1e6) / 1e6
    assert(pairs.get((3L, 4L)).contains(expected),
      s"expected (3,4) at $expected, got ${pairs.get((3L, 4L))}")
    assert(pairs.keySet == Set((3L, 4L)), s"unexpected pairs: $pairs")
  }

  test("sparse cosine: join work is bounded by maxDf, not corpus size") {
    import spark.implicits._
    // 200 docs all containing a shared boilerplate token plus a unique
    // token: with maxDf = 5 the boilerplate token is pruned, so the
    // inverted-index join produces ZERO pair rows — the quadratic
    // 200²/2 blowup through the hot token never happens. The bound is
    // observable in the output: no pairs at all.
    val corpus = (1L to 200L)
      .map(i => (i, s"boilerplate unique$i"))
      .toDF("doc_id", "text")
    val out = Similarity.sparseCosinePairs(corpus, "doc_id", "text",
      threshold = 0.0, maxDf = 5)
    assert(out.count() == 0,
      "hot-token pairs should be pruned from the similarity space")
  }

  test("collocations: hand-computed lift, empty/singleton docs safe") {
    import spark.implicits._
    val d = Seq("new york new york", "in new york", "", "solo")
      .toDF("text")
    val out = TextAnalysis.collocations(d, minCount = 2).collect()
    // pairs: (new,york)=3, (york,new)=1, (in,new)=1 → only (new,york)
    // survives; unigrams new=3 york=3, N=8 ("" → 0 tokens, solo → 1)
    assert(out.length == 1)
    val r = out.head
    assert((r.getString(0), r.getString(1)) == (("new", "york")))
    assert(r.getLong(2) == 3L && r.getLong(3) == 3L && r.getLong(4) == 3L)
    val want = BigDecimal(3.0 * 8 / 9)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(5) == want)
  }

  test("perSourcePercentile: in-source ranks; singleton source pct 0") {
    import spark.implicits._
    val d = Seq((1L, "a", 10L), (2L, "a", 30L), (3L, "a", 20L),
      (4L, "b", 99L))
      .toDF("doc_id", "source", "n_chars")
    val out = Corpus.perSourcePercentile(d, col("n_chars")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((0L, 0.0)))
    assert(out(3L) == ((1L, 0.5)))
    assert(out(2L) == ((2L, 1.0)))
    assert(out(4L) == ((0L, 0.0))) // n=1 → defined as 0, not 0/0
  }

  test("domainRank: one exact-int64 power iteration by hand") {
    import spark.implicits._
    // doc1+doc2 co-cite {A,B}, doc3 co-cites {A,C} →
    // edges A→B w2, B→A w2, A→C w1, C→A w1; outW A=3 B=2 C=1.
    // contribs: A←B 1e6·2 div 2 + A←C 1e6·1 div 1 = 2e6;
    // B←A 1e6·2 div 3 = 666666; C←A 1e6·1 div 3 = 333333.
    val d = Seq(
      (1L, "x https://a.com/p https://b.com/q"),
      (2L, "y https://a.com/r https://b.com/s"),
      (3L, "z https://a.com/t https://c.com/u"))
      .toDF("doc_id", "text")
    val r1 = Corpus.domainRank(d, iterations = 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r1 == Map(
      "a.com" -> (150000L + 2000000L * 85 / 100),
      "b.com" -> (150000L + 666666L * 85 / 100),
      "c.com" -> (150000L + 333333L * 85 / 100)))
    // the ordering A > B > C is stable through further iterations
    val r3 = Corpus.domainRank(d, iterations = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r3("a.com") > r3("b.com") && r3("b.com") > r3("c.com"))
  }

  test("cdcChunks: reassembly, minLen, unicode boundaries, determinism") {
    import spark.implicits._
    import org.apache.spark.sql.graft.VectorExpressions
    val texts = Seq(
      "",
      "short",
      ("lorem ipsum dolor sit amet " * 40).trim,
      // astral-plane + combining chars: boundaries must not split a
      // code point (each chunk stays valid UTF-8 / valid String)
      ("café 😀 naïve 🍕 " * 60).trim)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val ch = df.select(col("doc_id"), col("text"),
      VectorExpressions.cdcChunks(col("text"), 32, 6).as("chunks"))
    val rows = ch.collect()
    rows.foreach { r =>
      val text = r.getString(1)
      val chunks = r.getSeq[String](2)
      assert(chunks.mkString("") == text, s"reassembly failed for doc ${r.getLong(0)}")
      // every chunk but the last clears minLen (in UTF-8 bytes)
      chunks.dropRight(1).foreach { c =>
        assert(c.getBytes("UTF-8").length >= 32, s"short chunk '$c'")
      }
      // no chunk starts with an orphaned low surrogate (split code point)
      chunks.filter(_.nonEmpty).foreach { c =>
        assert(!Character.isLowSurrogate(c.charAt(0)), "split surrogate pair")
      }
    }
    val again = ch.collect().map(_.getSeq[String](2))
    assert(rows.map(_.getSeq[String](2)).toSeq == again.toSeq)
  }

  test("cdcChunks: shared passage yields shared chunks under any prefix") {
    import spark.implicits._
    import org.apache.spark.sql.graft.VectorExpressions
    val passage = (0 until 80).map(i => s"boilerseg$i chunkmark$i")
      .mkString(" ")
    val d = Seq((1L, s"x $passage"),
      (2L, s"a completely different and much longer leading context $passage"))
      .toDF("doc_id", "text")
    val ch = Dedup.cdcChunkTable(d)
    val shared = ch.groupBy("chunk")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") === 2).count()
    assert(shared >= 3,
      s"expected several alignment-immune shared chunks, got $shared")
  }

  test("c4Clean: every rule branch on a hand-built page") {
    import spark.implicits._
    val good = "this line has enough words here."
    val d = Seq(
      // 3 good lines + one short, one unterminated, one javascript
      (1L, s"$good\n$good\n$good\nshort line.\nno terminal punct here\nuse the javascript widget today."),
      (2L, s"$good\n$good"),                   // only 2 kept → dropped
      (3L, s"$good\n$good\n$good lorem IPSUM."), // page blocklist
      (4L, s"$good\n$good\n$good {x}.")          // brace blocklist
    ).toDF("doc_id", "text")
    val out = TextAnalysis.c4Clean(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getLong(4)))).toMap
    assert(out(1L) == ((6L, 3L, true, 3L * good.length + 2)))
    assert(out(2L)._3 == false && out(2L)._2 == 2L)
    assert(out(3L)._3 == false && out(3L)._2 == 3L) // lines fine, page blocked
    assert(out(4L)._3 == false)
  }

  test("htmlMainText: native == regex chain on edge families + seeded fuzz") {
    import spark.implicits._
    val edges = Seq(
      "", "plain text", "  lots   of\t\n ws  ",
      "<p>simple</p>",
      "<script>a</script>keep<style>b</style>",
      "<script no close - content survives minus the open tag>x",
      "<style>a<script>b</style>c</script>d", // overlap: script pass wins
      "<scriptx attr>weird-name block</scriptx>tail", // [^>]* name quirk
      "A &amp;lt; B &amp;nbsp; &unknown; &lt;3",
      "<>empty tag<> <a<b> <unclosed", "&", "<", "a<b>c",
      "multi\nline <script>\nif (a < b) { x(); }\n</script> end")
    val rnd = new scala.util.Random(29)
    val alphabet = "ab <>&;/scriptyle\n\t&amp;&lt;&nbsp;"
    val fuzz = (1 to 60).map { _ =>
      (1 to rnd.nextInt(80)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    val df = (edges ++ fuzz).toDF("h")
    val both = df.select(
      TextAnalysis.htmlMainText(col("h")).as("native"),
      TextAnalysis.htmlMainTextRegex(col("h")).as("regex"),
      col("h")).collect()
    both.foreach { r =>
      assert(r.getString(0) == r.getString(1),
        s"native '${r.getString(0)}' != regex '${r.getString(1)}' " +
          s"for input '${r.getString(2)}'")
    }
  }

  test("htmlMainText: scripts/styles/tags/entities on a hand-built page") {
    import spark.implicits._
    val html = "<html><head><style type=\"text/css\">a{x:1}</style>" +
      "<script defer>\nif (a < b) { alert(1); }\n</script></head>" +
      "<body><h1>Title</h1><p>A &amp; B &lt;ok&gt;&nbsp;end</p></body></html>"
    val out = Seq(html).toDF("h")
      .select(TextAnalysis.htmlMainText(col("h"))).head().getString(0)
    // multi-line script body (incl. a '<' that must not open a tag) and
    // attributed style are dropped whole; entities decode; ws collapses
    assert(out == "Title A & B <ok> end", s"got: '$out'")
  }

  test("weightedSampleK: exact k, weight-monotone inclusion, top-k plan") {
    import spark.implicits._
    // two weight classes, 500 docs each: heavy docs weigh 50x more
    val df = ((0L until 500L).map(i => (i, 5000L)) ++
      (500L until 1000L).map(i => (i, 100L)))
      .toDF("doc_id", "w")
    val out = Corpus.weightedSampleK(df, k = 200, weightCol = "w")
    val rows = out.collect()
    assert(rows.length == 200)
    // E-S inclusion is ∝ weight: the heavy half must dominate the
    // sample (E[heavy] ≈ 196 of 200 at a 50:1 ratio; 150 is a loose
    // deterministic floor for this fixed hash draw)
    val heavy = rows.count(_.getLong(0) < 500L)
    assert(heavy > 150, s"heavy-class count $heavy not dominant")
    // determinism: same input → identical selected set and keys
    val again = Corpus.weightedSampleK(df, k = 200, weightCol = "w")
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
    // zero/negative weights never selected
    val withZero = df.withColumn("w",
      when(col("doc_id") === 7L, 0L).otherwise(col("w")))
    assert(Corpus.weightedSampleK(withZero, k = 1000, weightCol = "w")
      .filter(col("doc_id") === 7L).count() == 0)
    // scale shape: global top-k lowers to TakeOrderedAndProject
    // (per-partition heaps), not a global Sort
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"weighted sample is not a bounded top-k:\n$plan")
  }

  test("weightedSampleK merge property: top-k of batch top-ks == global (ScalaCheck)") {
    // the invariant s30's streaming reservoir rests on: for ANY split
    // of the corpus into batches, the global E-S top-k over per-batch
    // top-k candidates equals the batch operator over the union (a row
    // outside its batch's top-k has a key below k batch-local keys,
    // hence below the global kth key). Fuzz: random ids/weights, random
    // 3-way batch assignment, duplicate weights, k larger and smaller
    // than batch sizes.
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val rowGen = for {
      id <- Gen.choose(0L, 10000L)
      w <- Gen.oneOf(1L, 2L, 50L, 1000L)
      b <- Gen.choose(0, 2)
    } yield (id, w, b)
    val caseGen = for {
      n <- Gen.choose(0, 60)
      rows <- Gen.listOfN(n, rowGen)
      k <- Gen.oneOf(1, 5, 25)
    } yield (rows.distinctBy(_._1), k)
    var checked = 0
    val prop = Prop.forAll(caseGen) { case (rows, k) =>
      val df = rows.toDF("doc_id", "w", "b")
      val global = Corpus.weightedSampleK(df, k, weightCol = "w")
        .collect().map(r => (r.getLong(0), r.getDouble(2))).sorted.toSeq
      val merged = (0 to 2).map(b =>
          Corpus.weightedSampleK(df.filter(col("b") === b), k,
            weightCol = "w"))
        .reduce(_ unionAll _)
        .orderBy(col("key").desc, col("doc_id")).limit(k)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).sorted.toSeq
      checked += 1
      global == merged
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(40), prop)
    assert(res.passed, s"merge property failed: ${res.status}")
    assert(checked >= 40)
  }

  test("trimmedReadout equals a driver replay of the per-arm exact-" +
      "rank trim on random heavy-tailed data") {
    import spark.implicits._
    val rnd = new scala.util.Random(170)
    (1 to 3).foreach { trial =>
      // heavy tail: a few whale users with 100× the events
      val events = (1 to 60).flatMap { u =>
        val n = if (u % 17 == 0) 200 + rnd.nextInt(100)
                else 1 + rnd.nextInt(8)
        Seq.fill(n)(u.toLong)
      }
      val got = graft.operators.Pipeline.trimmedReadout(
          events.toDF("user_id"), trimPct = 5)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4), r.getDouble(5))).toSeq
      def md5hex(s: String): String = {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8"))
        d.map("%02x".format(_)).mkString
      }
      def r6(x: Double): Double = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val want = events.groupBy(identity).toSeq
        .map { case (u, es) => (u, es.size.toLong) }
        .groupBy { case (u, _) =>
          if (md5hex(u.toString).charAt(0) < '8') "A" else "B" }
        .toSeq.map { case (arm, us) =>
          val sorted = us.sortBy { case (u, x) => (x, u) }
          val n = sorted.size.toLong
          val lo = n * 5 / 100
          val kept = sorted.slice(lo.toInt, (n - lo).toInt)
          (arm, n, lo, kept.size.toLong,
            r6(sorted.map(_._2).sum.toDouble / n),
            r6(kept.map(_._2).sum.toDouble / kept.size))
        }.sortBy(_._1)
      assert(got == want, s"trial $trial:\n got  $got\n want $want")
    }
  }

  test("labelerKappa equals a driver replay; constant labelers guard " +
      "via the exact integer pe=1 test") {
    import spark.implicits._
    val rnd = new scala.util.Random(171)
    (1 to 4).foreach { trial =>
      val rows = (1 to 50).map(_ => (rnd.nextBoolean(), rnd.nextBoolean()))
      val r = graft.operators.Pipeline.labelerKappa(
        rows.toDF("a", "b"), col("a"), col("b")).head()
      val n11 = rows.count(t => t._1 && t._2).toLong
      val n10 = rows.count(t => t._1 && !t._2).toLong
      val n01 = rows.count(t => !t._1 && t._2).toLong
      val n00 = rows.count(t => !t._1 && !t._2).toLong
      val n = rows.size.toDouble
      val po = (n11 + n00) / n
      val pe = ((n11 + n10) * (n11 + n01) +
        (n01 + n00) * (n10 + n00)) / (n * n)
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        == ((n11, n10, n01, n00)), s"trial $trial cells")
      if (pe < 1.0) {
        assert(r.getDouble(7) == r6((po - pe) / (1.0 - pe)),
          s"trial $trial kappa")
        assert(!r.getBoolean(8))
      }
    }
    // both labelers constant: pe = 1 exactly -> NULL kappa, guarded
    val const = (1 to 10).map(_ => (true, true)).toDF("a", "b")
    val c = graft.operators.Pipeline.labelerKappa(
      const, col("a"), col("b")).head()
    assert(c.isNullAt(7) && c.getBoolean(8))
    // empty input guards too (coalesced cells, no NULL n)
    val e = graft.operators.Pipeline.labelerKappa(
      Seq.empty[(Boolean, Boolean)].toDF("a", "b"),
      col("a"), col("b")).head()
    assert(e.getLong(4) == 0L && e.isNullAt(7) && e.getBoolean(8))
  }

  test("mdeReadout: closed-form replay; empty input guards") {
    import spark.implicits._
    // 4 users: 2 per arm by the md5 split, conversion mixed
    val ev = Seq((1L, "purchase"), (1L, "view"), (2L, "view"),
      (3L, "purchase"), (4L, "view"), (5L, "view"), (6L, "purchase"))
      .toDF("user_id", "event_type")
    val r = graft.operators.Pipeline.mdeReadout(ev).head()
    val na = r.getLong(0); val ca = r.getLong(1)
    val nb = r.getLong(2); val cb = r.getLong(3)
    assert(na + nb == 6L && ca + cb == 3L)
    val p = (ca + cb).toDouble / (na + nb)
    val mde = (1.959964 + 0.841621) *
      math.sqrt(p * (1 - p) * (1.0 / na + 1.0 / nb))
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(5) == r6(mde))
    assert(r.getBoolean(7) ==
      (math.abs(ca.toDouble / na - cb.toDouble / nb) >= mde))
    assert(!r.getBoolean(8))
    val e = graft.operators.Pipeline.mdeReadout(
      Seq.empty[(Long, String)].toDF("user_id", "event_type")).head()
    assert(e.getBoolean(8) && e.isNullAt(5))
  }

  test("bootstrapCi: exact driver replay of the deterministic Poisson " +
      "replicas and the rank-picked CI") {
    import spark.implicits._
    val rows = (1L to 30L).map(i => (i, (i * 7 % 50) + 10))
    val r = graft.operators.Pipeline.bootstrapCi(
      rows.toDF("doc_id", "n_chars"), "n_chars", b = 40).head()
    def md5hex(s: String) = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val cuts = Seq(
      0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
      0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
      0.9999167588507119, 0.9999897508033253, 0.9999988747974020)
    def pw(id: Long, b: Int): Long = {
      val u = java.lang.Long.parseLong(
        md5hex(s"$id:$b").substring(0, 8), 16).toDouble / 4294967296.0
      val k = cuts.indexWhere(u < _)
      if (k < 0) 9L else k.toLong
    }
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val means = (0 until 40).map { b =>
      val ws = rows.map { case (id, x) => (pw(id, b), x) }
      val sw = ws.map(_._1).sum
      (b, r6(ws.map(t => t._1 * t._2).sum.toDouble / sw))
    }
    val ranked = means.map { case (b, m) => (m, b) }.sorted
    val (lo, hi) = (ranked(1)._1, ranked(37)._1) // ranks 2 and 38
    assert(r.getLong(0) == 30L && r.getLong(2) == 40L)
    assert(r.getDouble(1) ==
      r6(rows.map(_._2).sum.toDouble / rows.size))
    assert(r.getDouble(3) == lo && r.getDouble(4) == hi,
      s"ci got (${r.getDouble(3)}, ${r.getDouble(4)}) want ($lo, $hi)")
    assert(r.getBoolean(5) ==
      (lo <= r.getDouble(1) && r.getDouble(1) <= hi))
  }

  test("operatingPoints: confusion counters are consistent and " +
      "monotone across thresholds") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rows = graft.pipeline.TextAnalysis.operatingPoints(
        docs, steps = 1, ths = (1 to 9).map(_ / 100.0))
      .collect()
    assert(rows.length == 9)
    // tp+fn is the positive count — constant across every cut
    val nPos = rows.map(r => r.getLong(1) + r.getLong(3)).distinct
    assert(nPos.length == 1 && nPos.head > 0)
    // raising the cut can only shrink the predicted-positive set
    val tps = rows.map(_.getLong(1)); val fps = rows.map(_.getLong(2))
    assert(tps.zip(tps.tail).forall { case (a, b) => a >= b })
    assert(fps.zip(fps.tail).forall { case (a, b) => a >= b })
    // the cuts actually bisect the score range: the predicted-positive
    // set must shrink strictly somewhere (not all-in or all-out)
    assert(tps.head + fps.head > tps.last + fps.last)
    // spot-check one row's ratios against its own cells
    val r4 = rows(4)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    if (r4.getLong(1) + r4.getLong(2) > 0)
      assert(r4.getDouble(4) == r6(r4.getLong(1).toDouble /
        (r4.getLong(1) + r4.getLong(2))))
  }

  test("s41 seam: per-split score-histogram partials merge to the " +
      "batch midrankAuc under arbitrary splits") {
    // the s41 carried state: (p, c, np) histogram rows per batch —
    // counts merge by sum, so ANY split must reproduce the batch AUC
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    (1 to 3).foreach { trial =>
      val rows = (1 to 100).map(_ =>
        (rnd.nextInt(2).toLong, rnd.nextInt(5) / 4.0, rnd.nextInt(3)))
      val full = rows.map(r => (r._1, r._2)).toDF("yl", "p")
      val want = TextAnalysis.midrankAuc(full).collect().toSeq.map(_.toSeq)
      val merged = (0 to 2).map { b =>
          rows.filter(_._3 == b).map(r => (r._1, r._2))
            .toDF("yl", "p")
            .groupBy("p").agg(count(lit(1)).cast("long").as("c"),
              sum(col("yl")).cast("long").as("np"))
        }.reduce(_ unionAll _)
        .groupBy("p").agg(sum("c").cast("long").as("c"),
          sum("np").cast("long").as("np"))
      val got = TextAnalysis.midrankAucFromCounts(merged)
        .collect().toSeq.map(_.toSeq)
      assert(got == want, s"trial $trial:\n got  $got\n want $want")
    }
  }

  test("s55 publish: log-rank over the reconstructed two-boundary-" +
      "event table equals log-rank over the raw events verbatim") {
    // the s55 carried state keeps only (user, first ts, last ts);
    // publish feeds each user's two boundary events to the BATCH
    // logRank — equality here is what makes "publish == p180's real
    // scenario" a construction, not a hope
    val events = graft.Tables.load(spark, sf, "events")
      .select("user_id", "ts")
    val merged = events.groupBy("user_id")
      .agg(min(unix_micros(col("ts"))).cast("long").as("fw"),
        max(unix_micros(col("ts"))).cast("long").as("lw"))
    val twoEv = merged.select(col("user_id"), col("fw").as("us"))
      .unionAll(merged.select(col("user_id"), col("lw").as("us")))
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
    val got = graft.operators.Pipeline.logRank(twoEv).collect().toSeq
    val want = graft.operators.Pipeline.logRank(events).collect().toSeq
    assert(got == want, s"reconstruction drift: got=$got want=$want")
  }

  test("s42 seam: per-split (user, min, max) partials merge to the " +
      "batch Kaplan-Meier under arbitrary splits; merge is idempotent") {
    // the s42 carried state: one (user, fw, lw) row per user per
    // batch — min/max merge under ANY split (and replaying a batch's
    // partial twice changes nothing: min/max are idempotent), and the
    // estimator consumes only the merged spans, so the publish-time
    // curve must equal the batch operator on the full stream
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { trial =>
      val base = 1700000000000000L
      val evs = (1 to 40).flatMap { u =>
        (0 until 1 + rnd.nextInt(5)).map { _ =>
          (u.toLong, base + rnd.nextInt(120) * 3600000000L +
            rnd.nextInt(1000), rnd.nextInt(3))
        }
      }
      def km(df: org.apache.spark.sql.DataFrame) =
        graft.operators.Pipeline.kaplanMeier(df)
          .collect().toSeq.map(_.toSeq)
      val full = evs.map(e => (e._1, e._2)).toDF("user_id", "us")
        .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
      val want = km(full)
      // per-split partials, with split 0's partial written TWICE (a
      // Spark-retried micro-batch replays its state append)
      val partials = ((0 to 2) :+ 0).map { b =>
        evs.filter(_._3 == b).map(e => (e._1, e._2))
          .toDF("user_id", "us")
          .groupBy("user_id")
          .agg(min("us").cast("long").as("fw"),
            max("us").cast("long").as("lw"))
      }.reduce(_ unionAll _)
      val merged = partials.groupBy("user_id")
        .agg(min("fw").cast("long").as("fw"),
          max("lw").cast("long").as("lw"))
      val twoEv = merged.select(col("user_id"), col("fw").as("us"))
        .unionAll(merged.select(col("user_id"), col("lw").as("us")))
        .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
      val got = km(twoEv)
      assert(got == want, s"trial $trial:\n got  $got\n want $want")
    }
  }

  test("s43 seam: per-split distinct-user partials merge to the " +
      "batch SRM under arbitrary splits; a replayed partial is inert") {
    // the s43 carried state: each batch's DISTINCT user set —
    // distinct-union merge is associative and idempotent, so any
    // split (and any duplicated batch partial) must reproduce the
    // batch srmCheck over the full population
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    (1 to 3).foreach { trial =>
      val evs = (1 to 300).map(_ =>
        (1L + rnd.nextInt(80), rnd.nextInt(3)))
      val want = graft.operators.Pipeline.srmCheck(
        evs.map(_._1).distinct.toDF("user_id"), "8", 0.5)
        .collect().map(_.toSeq).toSeq
      val merged = ((0 to 2) :+ 1).map { b =>
        evs.filter(_._2 == b).map(_._1).distinct.toDF("user_id")
      }.reduce(_ unionAll _).distinct()
      val got = graft.operators.Pipeline.srmCheck(merged, "8", 0.5)
        .collect().map(_.toSeq).toSeq
      assert(got == want, s"trial $trial:\n got  $got\n want $want")
    }
  }

  test("s44 seam: per-split (first-week min, purchase-count sum) " +
      "partials merge to the batch mSPRT p-value under arbitrary " +
      "splits; the always-valid running min never rises") {
    // the s44 carried state is s39's: one (user, fw, np) row — fw
    // merges by min (idempotent), np by SUM (NOT idempotent: replay
    // safety is the batchId-keyed generation discipline, not algebra).
    // Any split of the event stream must merge to the same counters,
    // hence the same msprtPNow the batch gate computes.
    import spark.implicits._
    val rnd = new scala.util.Random(44)
    def pOf(users: org.apache.spark.sql.DataFrame): Seq[Any] = {
      val m = users.withColumn("va",
        substring(md5(col("user_id").cast("string")), 1, 1) < "8")
      val cnt = m.agg(
        sum(when(col("va"), 1L).otherwise(0L)).cast("long").as("n_a"),
        sum(when(col("va") && col("np") >= 3, 1L).otherwise(0L))
          .cast("long").as("conv_a"),
        sum(when(!col("va"), 1L).otherwise(0L)).cast("long").as("n_b"),
        sum(when(!col("va") && col("np") >= 3, 1L).otherwise(0L))
          .cast("long").as("conv_b"))
      cnt.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        round(graft.operators.Pipeline.msprtPNow(col("n_a"),
          col("conv_a"), col("n_b"), col("conv_b"), 0.01), 6)
          .as("p_now"))
        .head().toSeq
    }
    (1 to 3).foreach { trial =>
      val evs = (1 to 400).map(_ => (1L + rnd.nextInt(60),
        rnd.nextInt(10).toLong, rnd.nextBoolean(), rnd.nextInt(3)))
      val df = evs.toDF("user_id", "wk", "purch", "b")
      def collapse(d: org.apache.spark.sql.DataFrame) =
        d.groupBy("user_id").agg(min("fw").as("fw"),
          sum("np").cast("long").as("np"))
      val direct = collapse(df.select(col("user_id"),
        col("wk").as("fw"),
        when(col("purch"), 1L).otherwise(0L).as("np")))
      val merged = collapse((0 to 2).map { b =>
        collapse(df.filter(col("b") === b).select(col("user_id"),
          col("wk").as("fw"),
          when(col("purch"), 1L).otherwise(0L).as("np")))
      }.reduce(_ unionAll _))
      val want = pOf(direct); val got = pOf(merged)
      assert(got == want, s"trial $trial:\n got  $got\n want $want")
      // always-valid usage: p over growing prefixes, running min
      // non-increasing and never above the current p
      val prefixes = (0 to 2).map { upTo =>
        pOf(collapse(df.filter(col("b") <= upTo).select(col("user_id"),
          col("wk").as("fw"),
          when(col("purch"), 1L).otherwise(0L).as("np"))))
          .last.asInstanceOf[Double]
      }
      val runningMin = prefixes.scanLeft(Double.MaxValue)(math.min).tail
      assert(runningMin.zip(runningMin.tail).forall { case (a, b) =>
        b <= a }, s"running min rose: $runningMin")
      assert(runningMin.zip(prefixes).forall { case (m, p) => m <= p })
    }
  }

  test("s45 seam: per-split (value, split-flag, count) histograms " +
      "merge to the batch conformal readout under arbitrary splits") {
    // the s45 carried state: a per-batch n_chars histogram (counts
    // merge by sum). The publish path — conformalFromHist over the
    // merged histogram — must equal the batch conformalCalibration
    // (per-doc ranks vs weighted histogram ranks agree because the
    // doc tiebreak only reorders EQUAL residuals).
    import spark.implicits._
    val rnd = new scala.util.Random(45)
    (1 to 3).foreach { trial =>
      // heavy value ties so the histogram rank path is exercised
      val ds = (1 to 200).map(i =>
        (i.toLong, (50 + rnd.nextInt(12)).toLong, rnd.nextInt(3)))
      val want = graft.operators.Pipeline.conformalCalibration(
        ds.map(d => (d._1, d._2)).toDF("doc_id", "n_chars"))
        .collect().map(_.toSeq).toSeq
      val merged = (0 to 2).map { b =>
        ds.filter(_._3 == b).map(d => (d._1, d._2)).toDF("doc_id", "nc")
          .select(col("nc").as("x"),
            (substring(md5(col("doc_id").cast("string")), 1, 1) < "c")
              .as("cal"))
          .groupBy("x", "cal").agg(count(lit(1)).cast("long").as("c"))
      }.reduce(_ unionAll _)
        .groupBy("x", "cal").agg(sum("c").cast("long").as("c"))
      val got = graft.operators.Pipeline.conformalFromHist(merged)
        .collect().map(_.toSeq).toSeq
      assert(got == want, s"trial $trial:\n got  $got\n want $want")
    }
  }

  test("s46 seam: per-split (bin, n, pos) partials merge to the batch " +
      "isotonic fit under arbitrary splits") {
    // the s46 carried state: per-batch score-bin partials (merge by
    // sum); scoring is per-row, so any split must merge to the batch
    // bin table and hence the identical minimax PAV fit
    import spark.implicits._
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "text").limit(120)
      .withColumn("b", pmod(xxhash64(col("doc_id")), lit(3)))
    val (_, w) = graft.pipeline.TextAnalysis.logregFit(
      d.select("doc_id", "lang", "text"), steps = 1, lr = 1.0,
      posLang = "en", langCol = "lang", textCol = "text")
    val want = graft.pipeline.TextAnalysis.isotonicCalibration(
      d.select("doc_id", "lang", "text"), steps = 1, nBins = 100)
      .collect().map(_.toSeq).toSeq
    val merged = (0 to 2).map { b =>
      graft.pipeline.TextAnalysis.logregScore(
        d.filter(col("b") === b), w)
        .select(least(floor(col("p") * 100), lit(99L)).cast("long")
          .as("bin"), col("yl"))
        .groupBy("bin").agg(count(lit(1)).cast("long").as("n"),
          coalesce(sum(col("yl")), lit(0L)).cast("long").as("pos"))
    }.reduce(_ unionAll _)
      .groupBy("bin").agg(sum("n").cast("long").as("n"),
        sum("pos").cast("long").as("pos"))
    val got = graft.pipeline.TextAnalysis.pavFit(merged)
      .collect().map(_.toSeq).toSeq
    assert(got == want, s"\n got  $got\n want $want")
  }

  test("s47 seam: per-split (id, dHash) signature partials append-merge " +
      "to the batch perceptual dedup under arbitrary splits") {
    // the s47 carried state: one 64-bit signature row per image,
    // computed per-row at ingest — ANY split of the media stream
    // appends to the same signature table, so pairs/components/roster
    // over the merged table equal the batch p189 path
    import spark.implicits._
    val seeds = (0 until 30).map(i => (i * 4).toLong)
    def gen(offset: Long, fmt: String, scale: Int) =
      graft.pipeline.Multimodal.withSmoothMedia(
        seeds.map(s => (s + offset, s)).toDF("doc_id", "seed"),
        "seed", fmt, scale).select("doc_id", "media")
    val media = gen(0L, "png", 1)
      .unionAll(gen(1000000L, "png", 2))
      .unionAll(gen(2000000L, "jpg", 1))
    def sigsOf(df: org.apache.spark.sql.DataFrame) =
      graft.pipeline.Multimodal.withDecodedGray(df, "media")
        .filter(col("gray").isNotNull)
        .select(col("doc_id").as("id"),
          org.apache.spark.sql.graft.VectorExpressions.dhash64(
            col("gray"), col("img_w"), col("img_h")).as("sig"))
    def dedup(sigs: org.apache.spark.sql.DataFrame) = {
      val labels = graft.pipeline.Dedup.components(
        graft.pipeline.Dedup.hammingPairs(sigs, 8, multiIndex = 3))
      sigs.select(col("id").as("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("comp"))
        .orderBy("doc_id")
        .collect().map(_.toSeq).toSeq
    }
    val want = dedup(sigsOf(media))
    val merged = (0 to 2).map { b =>
      sigsOf(media.filter(pmod(col("doc_id"), lit(3L)) === b))
    }.reduce(_ unionAll _)
    val got = dedup(merged)
    assert(got == want)
    // and every planted trio collapsed to its original
    want.foreach { r =>
      assert(r(1) == r.head.asInstanceOf[Long] % 1000000,
        s"trio did not collapse: $r")
    }
  }

  test("s48 seam: per-split (id, AudioHash64) signature partials " +
      "append-merge to the batch audio dedup under arbitrary splits") {
    // the s48 carried state: one 64-bit signature row per sound,
    // computed per-row at ingest — ANY split of the media stream
    // appends to the same signature table, so pairs/components/roster
    // over the merged table equal the batch p192 path
    import spark.implicits._
    val seeds = (0 until 30).map(i => (i * 4).toLong)
    def gen(offset: Long, rate: Int, bits: Int) =
      graft.pipeline.Multimodal.withSyntheticWav(
        seeds.map(s => (s + offset, s)).toDF("doc_id", "seed"),
        "seed", rate, bits).select("doc_id", "media")
    val media = gen(0L, 8000, 16)
      .unionAll(gen(1000000L, 16000, 16))
      .unionAll(gen(2000000L, 8000, 8))
    def sigsOf(df: org.apache.spark.sql.DataFrame) =
      graft.pipeline.Multimodal.withDecodedPcm(df, "media")
        .filter(col("pcm").isNotNull)
        .select(col("doc_id").as("id"),
          org.apache.spark.sql.graft.VectorExpressions.audiohash64(
            col("pcm")).as("sig"))
    def dedup(sigs: org.apache.spark.sql.DataFrame) = {
      val labels = graft.pipeline.Dedup.components(
        graft.pipeline.Dedup.hammingPairs(sigs, 8, multiIndex = 3))
      sigs.select(col("id").as("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("comp"))
        .orderBy("doc_id")
        .collect().map(_.toSeq).toSeq
    }
    val want = dedup(sigsOf(media))
    // split by a hash, not id arithmetic — mirrors the gate's batch
    // split and guarantees the trios mix across splits
    val merged = (0 to 2).map { b =>
      sigsOf(media.filter(pmod(xxhash64(col("doc_id")), lit(3L)) === b))
    }.reduce(_ unionAll _)
    val got = dedup(merged)
    assert(got == want)
    want.foreach { r =>
      assert(r(1) == r.head.asInstanceOf[Long] % 1000000,
        s"trio did not collapse: $r")
    }
  }

  test("s49 seam: per-split (id, MajorityHash64) clip partials " +
      "append-merge to the batch video dedup under arbitrary splits") {
    // the s49 carried state: one 64-bit clip signature per video —
    // complete within whatever split carries the clip (frames never
    // span batches), so ANY split appends to the same signature table
    import spark.implicits._
    val seeds = (0 until 20).map(i => (i * 4).toLong)
    def gen(offset: Long, resDiv: Int, step: Int, bright: Int) =
      graft.pipeline.Multimodal.withSyntheticVideoMedia(
        seeds.map(s => (s + offset, s)).toDF("doc_id", "seed"),
        "seed", resDiv, step, bright).select("doc_id", "media")
    val media = gen(0L, 1, 1, 256)
      .unionAll(gen(1000000L, 2, 1, 256))
      .unionAll(gen(2000000L, 1, 2, 256))
      .unionAll(gen(3000000L, 1, 1, 216))
    def sigsOf(df: org.apache.spark.sql.DataFrame) =
      graft.pipeline.Multimodal.withDecodedFrames(df, "media")
        .filter(col("gray").isNotNull)
        .select(col("doc_id").as("id"),
          org.apache.spark.sql.graft.VectorExpressions.dhash64(
            col("gray"), col("img_w"), col("img_h")).as("fsig"))
        .groupBy("id")
        .agg(org.apache.spark.sql.graft.VectorExpressions
          .majorityhash64(collect_list(col("fsig"))).as("sig"))
    def dedup(sigs: org.apache.spark.sql.DataFrame) = {
      val labels = graft.pipeline.Dedup.components(
        graft.pipeline.Dedup.hammingPairs(sigs, 6, multiIndex = 3))
      sigs.select(col("id").as("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("comp"))
        .orderBy("doc_id")
        .collect().map(_.toSeq).toSeq
    }
    val want = dedup(sigsOf(media))
    val merged = (0 to 2).map { b =>
      sigsOf(media.filter(pmod(xxhash64(col("doc_id")), lit(3L)) === b))
    }.reduce(_ unionAll _)
    val got = dedup(merged)
    assert(got == want)
    want.foreach { r =>
      assert(r(1) == r.head.asInstanceOf[Long] % 1000000,
        s"quad did not collapse: $r")
    }
  }

  test("s50 seam: per-split packed (sub-id, dHash) partials " +
      "append-merge to the batch frame-grab pairs under any split") {
    // the s50 carried state: packed sub-id signatures (clip frames at
    // id*16+pos, stills at id*16+15) — each derives from exactly one
    // arriving payload, so any split of the MIXED corpus appends to
    // the same table and frameGrabPairsFromSigs over the merge must
    // equal the batch frameGrabPairs output
    import spark.implicits._
    val seeds = (0 until 20).map(i => (i * 4).toLong)
    val clips = Multimodal.withSyntheticVideoMedia(
      seeds.map(s => (s, s)).toDF("doc_id", "seed"),
      "seed", 1, 1, 256).select("doc_id", "media")
      .withColumn("kind", lit("clip"))
    val grabs = Multimodal.withFrameGrabMedia(
      seeds.map(s => (s + 1000000L, s)).toDF("doc_id", "seed"), "seed")
      .select("doc_id", "media").withColumn("kind", lit("grab"))
    val mixed = clips.unionAll(grabs)
    def sigsOf(df: org.apache.spark.sql.DataFrame) =
      Dedup.frameGrabClipSigs(
          df.filter(col("kind") === "clip"), "doc_id", "media")
        .unionAll(Dedup.frameGrabImageSigs(
          df.filter(col("kind") === "grab"), "doc_id", "media"))
    def publish(sigs: org.apache.spark.sql.DataFrame) =
      Dedup.frameGrabPairsFromSigs(sigs, maxHamming = 6, multiIndex = 3)
        .orderBy("image_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = publish(sigsOf(mixed))
    val merged = (0 to 2).map { b =>
      sigsOf(mixed.filter(pmod(xxhash64(col("doc_id")), lit(3L)) === b))
    }.reduce(_ unionAll _)
    assert(publish(merged) == want)
    // and the batch operator itself routes through the same seam
    val direct = Dedup.frameGrabPairs(
        grabs.select("doc_id", "media"), "doc_id", "media",
        clips.select("doc_id", "media"), "doc_id", "media",
        maxHamming = 6)
      .orderBy("image_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(direct == want)
    val set = want.toSet
    seeds.foreach { s =>
      assert(set.contains((s + 1000000L, s)), s"grab pair missing for $s")
    }
  }

  test("s54 seam: per-split packed (sub-id, AudioHash64) partials " +
      "append-merge to the batch snippet-containment pairs") {
    import spark.implicits._
    val seeds = (0 until 20).map(i => (i * 4).toLong)
    val recs = Multimodal.withConcatWav(
      seeds.map(s => (s, s)).toDF("doc_id", "seed"),
      "seed", 4, 8000, 16).select("doc_id", "media")
      .withColumn("kind", lit("rec"))
    val snips = Multimodal.withSyntheticWav(
      seeds.map(s => (s + 1000000L, s * 16 + (s / 4) % 4))
        .toDF("doc_id", "seed"),
      "seed", 16000, 16).select("doc_id", "media")
      .withColumn("kind", lit("snip"))
    val mixed = recs.unionAll(snips)
    def sigsOf(df: org.apache.spark.sql.DataFrame) =
      Dedup.audioWindowSigs(
          df.filter(col("kind") === "rec"), "doc_id", "media", 4)
        .unionAll(Dedup.audioSnippetSigs(
          df.filter(col("kind") === "snip"), "doc_id", "media"))
    def publish(sigs: org.apache.spark.sql.DataFrame) =
      Dedup.frameGrabPairsFromSigs(sigs, maxHamming = 6, multiIndex = 3)
        .orderBy("image_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = publish(sigsOf(mixed))
    val merged = (0 to 2).map { b =>
      sigsOf(mixed.filter(pmod(xxhash64(col("doc_id")), lit(3L)) === b))
    }.reduce(_ unionAll _)
    assert(publish(merged) == want)
    // and the batch operator routes through the same seams
    val direct = Dedup.audioSnippetPairs(
        snips.select("doc_id", "media"), "doc_id", "media",
        recs.select("doc_id", "media"), "doc_id", "media")
      .orderBy("snippet_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(direct == want)
    val set = want.toSet
    seeds.foreach { s =>
      assert(set.contains((s + 1000000L, s)), s"snippet missing for $s")
    }
  }

  test("s40 seam: per-split stratum top-k union + merged counts " +
      "reproduce the batch stratifiedSample under arbitrary splits") {
    // the s40 carried state: per-batch stratum counts (merge by sum)
    // and per-batch stratumTopK candidates (min-k union ⊇ global
    // top-k per stratum). For ANY split, the publish path — exact
    // allocation over merged counts + rank over the candidate union —
    // must equal the batch operator. Budgets chosen under, around,
    // and over the stratum sizes (the over case exercises under-fill).
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(40)
    (1 to 3).foreach { trial =>
      val n = 30 + rnd.nextInt(40)
      val rows = (1 to n).map(i =>
        (i.toLong, s"s${rnd.nextInt(4)}", rnd.nextInt(3)))
      val df = rows.toDF("doc_id", "source", "b")
      val budget = Seq(5L, 12L, 100L)(trial - 1)
      val want = Corpus.stratifiedSample(
          df.select("doc_id", "source"), budget)
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getLong(2), r.getLong(3))).toSeq
      val cands = (0 to 2).map(b => Corpus.stratumTopK(
          df.filter(col("b") === b).select("doc_id", "source"), budget))
        .reduce(_ unionAll _)
      val counts = df.groupBy(col("source").as("s"))
        .agg(count(lit(1)).cast("long").as("c"))
      val alloc = Corpus.allocFromCounts(counts, budget, "source")
      val w = Window.partitionBy("source").orderBy("draw", "doc_id")
      val got = cands
        .withColumn("rk2", row_number().over(w).cast("long"))
        .join(broadcast(alloc), Seq("source"))
        .filter(col("rk2") <= col("n_alloc"))
        .select(col("source"), col("doc_id"), col("rk2"),
          col("n_alloc"))
        .orderBy("source", "rk2")
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getLong(2), r.getLong(3))).toSeq
      assert(got == want, s"trial $trial budget $budget:" +
        s"\n got  $got\n want $want")
    }
  }

  test("temperatureSample: alpha flattens, smallest source keeps everything") {
    import spark.implicits._
    val df = ((0 until 90).map(i => ("big", i.toLong)) ++
      (100 until 110).map(i => ("small", i.toLong)))
      .toDF("source", "doc_id")
    val out = Corpus.temperatureSample(df).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getLong(3)))).toMap
    // C = min_s n_s/p_s lands on the small source → its rate is exactly 1
    assert(out("small") == ((10L, 1.0, 10L)))
    // alpha=0.3 downsamples the 9x-dominant source hard (rate ~0.215)
    val (nBig, rateBig, keptBig) = out("big")
    assert(nBig == 90L && rateBig > 0.18 && rateBig < 0.25,
      s"unexpected big-source rate $rateBig")
    assert(keptBig > 0L && keptBig < 90L)
  }

  test("snapshotDrift: hand-computed PSI terms incl. a bin missing from v2") {
    import spark.implicits._
    val v1 = Seq("aaaaa", "bbbbb", "c" * 50).toDF("text") // bins {1:2, 2:1}
    val v2 = Seq("ddddd").toDF("text")                    // bins {1:1}
    val out = Corpus.snapshotDrift(v1, v2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    // nb=2, n1=3, n2=1; smoothed p/q per bin, term=(p-q)*ln(p/q)
    assert(out(1L) == ((2L, 1L, 0.007024)))
    assert(out(2L) == ((1L, 0L, 0.012155))) // v2-absent bin stays finite
  }

  test("snapshotDiff property: statuses reconcile with ground truth (seeded fuzz)") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    (1 to 3).foreach { _ =>
      val ids = (0L until 60L)
      val v1m = ids.filter(_ => rnd.nextDouble() < 0.8)
        .map(i => i -> s"doc-$i-${rnd.nextInt(3)}").toMap
      val v2m = ids.filter(_ => rnd.nextDouble() < 0.8)
        .map(i => i -> (if (rnd.nextDouble() < 0.5) s"doc-$i-${rnd.nextInt(3)}"
        else s"edited-$i-${rnd.nextInt(3)}")).toMap
      val out = graft.pipeline.Corpus.snapshotDiff(
        v1m.toSeq.toDF("doc_id", "text"), v2m.toSeq.toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val expect = (v1m.keySet ++ v2m.keySet).map { i =>
        i -> ((v1m.get(i), v2m.get(i)) match {
          case (Some(_), None) => "removed"
          case (None, Some(_)) => "added"
          case (Some(a), Some(b)) if a == b => "unchanged"
          case _ => "changed"
        })
      }.toMap
      assert(out == expect)
    }
  }

  test("snapshotDiff: all four statuses from a hand-built delta") {
    import spark.implicits._
    val v1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val v2 = Seq((1L, "a"), (2L, "B!"), (4L, "d")).toDF("doc_id", "text")
    val out = Corpus.snapshotDiff(v1, v2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("fertilityByLang: exact sums and ratio") {
    import spark.implicits._
    val d = Seq(("en", "ab cd"), ("en", "x"), ("de", "aaa"))
      .toDF("lang", "text")
    val out = TextAnalysis.fertilityByLang(d).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out("en") == ((2L, 3L, 6L, 2.0)))
    assert(out("de") == ((1L, 1L, 3L, 3.0)))
  }

  test("bigramLmScore: hand-computed smoothed means, empty/singleton docs") {
    import spark.implicits._
    val d = Seq((1L, "a b a b"), (2L, "A B"), (3L, "x"), (4L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramLmScore(d).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]))))
      .toMap
    // corpus (lowercased): c(a)=3 c(b)=3 c(x)=1, V=3; c(a,b)=3 c(b,a)=1
    // doc1 terms: ln(4/6), ln(2/6), ln(4/6) → mean −0.636514
    assert(out(1L)._1 == 3L)
    assert(math.abs(out(1L)._2.get - -0.636514) < 1e-9)
    // doc2 ("A B" lowercased): one term ln(4/6) → −0.405465
    assert(out(2L) == ((1L, Some(-0.405465))))
    assert(out(3L) == ((0L, None)))
    assert(out(4L) == ((0L, None)))
  }

  test("CharGramPosHashes: position-aligned, == xxhash64(substring), empty when short") {
    import spark.implicits._
    val texts = Seq("0123456789ABCD", "exact-len0", "short", "",
      "юникод текст αβγ", "emoji 😀 pair ok!")
    val df = texts.toDF("t").select(col("t"),
      posexplode(org.apache.spark.sql.graft.VectorExpressions
        .charGramPosHashes(col("t"), 10)).as(Seq("st", "h")))
      .withColumn("w", expr("substring(t, st + 1, 10)"))
      .withColumn("hx", xxhash64(col("w")))
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("h") == r.getAs[Long]("hx"),
        s"hash mismatch at st=${r.getAs[Int]("st")} of '${r.getAs[String]("t")}'")
    }
    // per-text window counts: len-10+1 positions, none for shorter text
    val counts = rows.groupBy(_.getAs[String]("t")).view.mapValues(_.length)
    assert(counts("0123456789ABCD") == 5)
    assert(counts("exact-len0") == 1)
    assert(!counts.contains("short") && !counts.contains(""))
    // code-point semantics: 16 cps → 7 windows despite multibyte UTF-8
    assert(counts("юникод текст αβγ") == 7)
  }

  test("repeatedSpanRemoval: exact cut boundaries, phase shift, full wipe") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val p = "0123456789ABCDEFGHIJ" // 20-char passage shared by A and B
    val d = Seq(
      (1L, p + "xxxxxx"),          // P at offset 0
      (2L, "yyyy" + p + "zz"),     // P at offset 4 — different phase than doc 1
      (3L, "The quick brown fox."), // no repeats anywhere
      (4L, "DUPLICATE DUPLICATE DUP"), // exact dup pair with 5 →
      (5L, "DUPLICATE DUPLICATE DUP"), // whole doc removed
      (6L, "tiny"))                // shorter than the window
      .toDF("doc_id", "text")
    val out = Dedup.repeatedSpanRemoval(d, win = 10, stride = 1).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))).toMap
    // A: anchors at 0..10 merge into [0,20) — P excised, tail survives
    assert(out(1L) == ((26L, 6L, 11L, 20L, md5hex("xxxxxx"))))
    // B: same passage 4 chars later — anchors 4..14, cut [4,24)
    assert(out(2L) == ((26L, 6L, 11L, 20L, md5hex("yyyyzz"))))
    assert(out(3L) == ((20L, 20L, 0L, 0L, md5hex("The quick brown fox."))))
    // exact duplicates: every window repeats (incl. within-doc) → wiped
    assert(out(4L) == ((23L, 0L, 14L, 23L, md5hex(""))))
    assert(out(5L) == out(4L))
    assert(out(6L) == ((4L, 4L, 0L, 0L, md5hex("tiny"))))
  }

  test("releaseNovelty: hand-counted gram sets incl. short-doc grams") {
    import spark.implicits._
    val v1 = Seq((1L, "a b c")).toDF("doc_id", "text")
    val v2 = Seq((1L, "a b c"), (2L, "x y"), (3L, "z"))
      .toDF("doc_id", "text")
    // g1 = {a·b, b·c}; g2 = {a·b, b·c, x·y, z} (the 1-token doc emits
    // its whole token list as one gram) → 2 of 4 are new
    val out = Corpus.releaseNovelty(v1, v2, n = 2).head()
    assert(out.getLong(0) == 4L && out.getLong(1) == 2L)
    assert(out.getDouble(2) == 0.5)
  }

  test("benchmarkSpanRemoval: only bench-shared spans cut, train dups kept") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val b = "QQQQQQQQQQWWWWWWWWWWEEEEEEEEEE" // 30-char benchmark doc
    val bench = Seq((100L, b)).toDF("doc_id", "text")
    val train = Seq(
      (1L, "head " + b + " tail"),        // full contamination at offset 5
      (2L, "xxxx" + b.substring(0, 19) + "yyyyyyy"), // 19 < win: kept
      (3L, "DUPLICATE TRAIN DOC CONTENT HERE OK"),   // train-only dup →
      (4L, "DUPLICATE TRAIN DOC CONTENT HERE OK"),   // NOT this op's job
      (5L, "tiny")).toDF("doc_id", "text")
    val out = Dedup.benchmarkSpanRemoval(train, bench, win = 20).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))).toMap
    // 11 anchors (5..15) merge to [5,35): exactly the passage is cut
    assert(out(1L) == ((40L, 10L, 11L, 30L, md5hex("head  tail"))))
    assert(out(2L)._4 == 0L && out(2L)._3 == 0L)
    assert(out(3L)._4 == 0L && out(4L)._4 == 0L)
    assert(out(5L) == ((4L, 4L, 0L, 0L, md5hex("tiny"))))
  }

  test("domainBlocklist: boundary-exact suffix semantics + attribution") {
    import spark.implicits._
    val d = Seq(
      (1L, "x https://site1.example.com/a"),          // exact match
      (2L, "x https://deep.sub.site1.example.com/a"), // 2-level subdomain
      (3L, "x https://notsite1.example.com/a"),       // prefix lookalike
      (4L, "x https://site1.example.com.evil.com/a"), // suffix lookalike
      (5L, "no urls at all"),
      (6L, "two https://ok.org/a https://badhost.net/b"), // 2nd URL hits
      (7L, "https://a.badhost.net/ https://site1.example.com/")) // 2 hits
      .toDF("doc_id", "text")
    val out = Corpus.domainBlocklist(d,
      Seq("site1.example.com", "badhost.net")).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getBoolean(2), Option(r.getString(3))))).toMap
    assert(out(1L) == ((1L, true, Some("site1.example.com"))))
    assert(out(2L) == ((1L, true, Some("site1.example.com"))))
    assert(out(3L) == ((1L, false, None)))
    assert(out(4L) == ((1L, false, None)))
    assert(out(5L) == ((0L, false, None)))
    assert(out(6L) == ((2L, true, Some("badhost.net"))))
    // both entries match → alphabetically-first attribution
    assert(out(7L) == ((2L, true, Some("badhost.net"))))
  }

  test("ScriptCounts: native == regex-chain counts on BMP inputs + fuzz") {
    import spark.implicits._
    val edges = Seq(
      "", " ", "hello WORLD", "привет", "αβγ", "你好", "おはよう", "مرحبا",
      "mix привет 123 你好 αβ!", "ÀÉïñ Øſ", // Latin-1/Extended letters
      "×÷", // U+00D7/U+00F7 sit inside the latin range by contract
      "0123456789", "!@#$%^&*()")
    val rnd = new scala.util.Random(31)
    val pool = "abZ ñ9!привет你好αβمر.,\n\t"
    val fuzz = (1 to 60).map { _ =>
      (1 to rnd.nextInt(60)).map(_ => pool(rnd.nextInt(pool.length))).mkString
    }
    val classes = Seq(
      "latin" -> "[^A-Za-zÀ-ɏ]",
      "cyrillic" -> "[^Ѐ-ӿ]",
      "greek" -> "[^Ͱ-Ͽ]",
      "cjk" -> "[^一-鿿぀-ヿ]",
      "arabic" -> "[^؀-ۿ]",
      "digit" -> "[^0-9]")
    val st = org.apache.spark.sql.graft.VectorExpressions
      .scriptCounts(col("t"))
    val cols = Seq(col("t"), st.as("s"),
      length(col("t")).cast("long").as("re_n")) ++
      classes.map { case (n, re) =>
        length(regexp_replace(col("t"), re, "")).cast("long").as(s"re_$n")
      }
    val df = (edges ++ fuzz).toDF("t").select(cols: _*)
    df.collect().foreach { r =>
      val t = r.getString(0)
      val s = r.getStruct(1)
      assert(s.getLong(0) == r.getLong(2), s"n_cp mismatch on '$t'")
      classes.zipWithIndex.foreach { case ((n, _), i) =>
        assert(s.getLong(i + 1) == r.getLong(3 + i),
          s"$n count mismatch on '$t'")
      }
    }
  }

  test("ScriptCounts: astral pairs count one code point, match no class") {
    import spark.implicits._
    val emoji = new String(Character.toChars(0x1F600)) // astral, 2 units
    val out = Seq(s"a${emoji}б").toDF("t")
      .select(org.apache.spark.sql.graft.VectorExpressions
        .scriptCounts(col("t")).as("s"))
      .select(col("s.*")).head()
    assert(out.getLong(0) == 3L) // NOT 4: the pair is one code point
    assert(out.getLong(1) == 1L && out.getLong(2) == 1L)
  }

  test("scriptProfile: dominance priority, ties, and the other branch") {
    import spark.implicits._
    val d = Seq(
      (1L, "abc где"),   // tie latin==cyrillic → fixed priority: latin
      (2L, "你好世界 ab"), // cjk dominant
      (3L, " .,!? "),     // no script chars at all → other
      (4L, "αβγδ ab 12")) // greek dominant; digits don't compete
      .toDF("doc_id", "text")
    val out = TextAnalysis.scriptProfile(d).collect()
      .map(r => r.getLong(0) -> ((r.getString(8), r.getDouble(9)))).toMap
    assert(out(1L)._1 == "latin")
    assert(out(2L)._1 == "cjk")
    assert(out(3L) == (("other", 0.0)))
    assert(out(4L)._1 == "greek")
    // coverage fraction: 6 script chars of 7 code points, ROUND 6
    assert(out(1L)._2 == 0.857143)
  }

  test("stupidBackoffScore: all three levels, hand-built corpus") {
    import spark.implicits._
    // Train: "a b c" twice, "a b d" once → tri (a,b,c)=2, (a,b,d)=1;
    // bi (a,b)=3, (b,c)=2, (b,d)=1; uni a=3 b=3 c=2 d=1; N=9, V=4.
    val train = Seq((0L, "a b c"), (2L, "a b c"), (4L, "a b d"))
      .toDF("doc_id", "text")
    // Score: "a b c" (seen tri), "x b c" (tri miss, bi (b,c) hit),
    // "x y z" (full miss, z unseen), "a b" (too short).
    val score = Seq((10L, "a b c"), (11L, "x b c"), (12L, "x y z"),
      (13L, "a b")).toDF("doc_id", "text")
    val got = TextAnalysis.stupidBackoffScore(score, train)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
      .toMap
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // level 1: c123/c12 = 2/3
    assert(got(10L) == ((1L, Some(r6(math.log(2.0 / 3.0))), Some(0.0))))
    // level 2: α · c(b,c)/c(b) = 0.4 · 2/3
    assert(got(11L) == ((1L, Some(r6(math.log(0.4 * (2.0 / 3.0)))),
      Some(1.0))))
    // level 3: α² · (c(z)+1)/(N+V+1) = 0.16 · 1/14
    assert(got(12L) == ((1L,
      Some(r6(math.log(0.4 * 0.4 * (1.0 / 14.0)))), Some(1.0))))
    assert(got(13L) == ((0L, None, None)))
  }

  test("logregQuality: exact driver-side GD replication incl. decimal sums") {
    val full = spark.read.parquet(s"$sf/documents.parquet")
      .select("text", "lang").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val rows = full.flatMap { case (text, lang) =>
      val nt = { val t = text.trim; if (t.isEmpty) 0 else t.split("\\s+").length }
      if (nt == 0) None
      else Some((if (lang == "en") 1.0 else 0.0,
        math.log(1.0 + nt),
        text.codePointCount(0, text.length).toDouble / nt))
    }
    val m = rows.length.toDouble
    var w = (0.0, 0.0, 0.0)
    def d12(x: Double): BigDecimal =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    for (_ <- 1 to 3) {
      var (g0, g1, g2) = (BigDecimal(0), BigDecimal(0), BigDecimal(0))
      rows.foreach { case (y, x1, x2) =>
        val z = w._1 * 1.0 + w._2 * x1 + w._3 * x2
        val sig = 1.0 / (1.0 + math.exp(-z))
        g0 += d12((sig - y) * 1.0)
        g1 += d12((sig - y) * x1)
        g2 += d12((sig - y) * x2)
      }
      w = (w._1 - 1.0 * (g0.toDouble / m), w._2 - 1.0 * (g1.toDouble / m),
        w._3 - 1.0 * (g2.toDouble / m))
    }
    val nRight = rows.count { case (y, x1, x2) =>
      ((w._1 + w._2 * x1 + w._3 * x2) >= 0) == (y == 1.0)
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = Map("bias" -> r6(w._1), "log_tokens" -> r6(w._2),
      "chars_per_token" -> r6(w._3), "train_acc" -> r6(nRight / m))
    val got = TextAnalysis.logregQuality(
      spark.read.parquet(s"$sf/documents.parquet"), steps = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == want, s"\n got  $got\n want $want")
    // the model must actually separate something: accuracy beats the
    // majority-class baseline floor of 0.5
    assert(got("train_acc") > 0.5)
  }

  test("midrankAuc equals naive pairwise AUC on tied random data; " +
      "degenerate inputs guard") {
    import spark.implicits._
    val rnd = new scala.util.Random(169)
    (1 to 5).foreach { trial =>
      // coarse score grid forces heavy ties — the midrank branch
      val rows = (1 to 80).map(_ =>
        (rnd.nextInt(2).toLong, rnd.nextInt(7) / 10.0))
      val r = TextAnalysis.midrankAuc(rows.toDF("yl", "p")).head()
      val pos = rows.filter(_._1 == 1L).map(_._2)
      val neg = rows.filter(_._1 == 0L).map(_._2)
      val wins = (for { a <- pos; b <- neg } yield {
        if (a > b) 1.0 else if (a == b) 0.5 else 0.0
      }).sum
      val want = wins / (pos.size.toLong * neg.size)
      assert(math.abs(r.getDouble(0) - want) < 1e-6,
        s"trial $trial: got ${r.getDouble(0)} want $want")
      assert(!r.getBoolean(3))
      assert(r.getLong(1) == pos.size && r.getLong(2) == neg.size)
    }
    // all-tied scores: exactly 0.5 through the midrank path
    val const = (1 to 10).map(i => ((i % 2).toLong, 0.5))
      .toDF("yl", "p")
    assert(TextAnalysis.midrankAuc(const).head().getDouble(0) == 0.5)
    // single-class and empty inputs guard with NULL auc
    val onlyPos = Seq((1L, 0.3), (1L, 0.7)).toDF("yl", "p")
    val op = TextAnalysis.midrankAuc(onlyPos).head()
    assert(op.isNullAt(0) && op.getBoolean(3))
    val empty = Seq.empty[(Long, Double)].toDF("yl", "p")
    val e = TextAnalysis.midrankAuc(empty).head()
    assert(e.isNullAt(0) && e.getBoolean(3) &&
      e.getLong(1) == 0L && e.getLong(2) == 0L)
  }

  test("perplexityBuckets: per-lang thirds, scoreless docs sort last") {
    val full = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang")
    val train = full.filter(col("doc_id") % 2 === 0)
    val scores = TextAnalysis.stupidBackoffScore(full, train)
      .collect()
      .map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Double]))
      .toMap
    val byLang = full.select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._2)
    val want = byLang.toSeq.flatMap { case (lang, ds) =>
      val sorted = ds.map(_._1).toSeq
        .sortBy(id => (scores(id).map(-_).getOrElse(1e18), id))
      val n = sorted.length
      sorted.zipWithIndex.map { case (id, rk) =>
        (id, lang) -> Seq("head", "middle", "tail")(
          (rk.toLong * 3 / n).toInt)
      }
    }.toMap
    val got = TextAnalysis.perplexityBuckets(full, train)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getString(3)).toMap
    assert(got == want)
  }

  test("vocabGrowth: exact driver-side recomputation, cumulative + heaps") {
    def tokensOf(t: String): Seq[String] = {
      val s = t.trim.toLowerCase
      if (s.isEmpty) Seq.empty else s.split("\\s+").toSeq
    }
    val all = docs.collect().map(r => r.getLong(0) -> r.getString(1))
    val maxId = all.map(_._1).max
    val buckets = 16
    def bucketOf(id: Long): Long = id * buckets / (maxId + 1)
    val byB = all.groupBy { case (id, _) => bucketOf(id) }
    val firstBucket = all.flatMap { case (id, t) =>
      tokensOf(t).map(_ -> bucketOf(id))
    }.groupMapReduce(_._1)(_._2)(math.min)
    val bs = byB.keys.toSeq.sorted
    var (cd, ct, cy) = (0L, 0L, 0L)
    val want = bs.map { b =>
      cd += byB(b).size
      ct += byB(b).map { case (_, t) => tokensOf(t).size.toLong }.sum
      cy += firstBucket.count(_._2 == b)
      (b, cd, ct, cy,
        BigDecimal(math.log(cy.toDouble) / math.log(ct.toDouble))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = Corpus.vocabGrowth(docs, buckets = buckets)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
      .sortBy(_._1).toSeq
    assert(got == want, s"\n got  $got\n want $want")
  }

  test("unsafeWordStats: boundary, casefold, multiset, lookalikes, blank") {
    import spark.implicits._
    val d = Seq(
      (1L, "The Zorblax. appears once"),        // punct-stripped hit
      (2L, "fnord Fnord FNORD!"),               // multiset ×3, 1 distinct
      (3L, "quuxly-ish zorblaxxy harmless"),    // lookalikes must NOT hit
      (4L, "(quuxly) wrapped"),                 // edge-punct strip hit
      (5L, "   "),                              // blank → 0 tokens, frac 0
      (6L, "totally clean text here"))
      .toDF("doc_id", "text")
    val out = TextAnalysis
      .unsafeWordStats(d, Seq("zorblax", "fnord", "quuxly"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getBoolean(5)))).toMap
    assert(out(1L) == ((4L, 1L, 1L, 0.25, true)))
    assert(out(2L) == ((3L, 3L, 1L, 1.0, true)))
    assert(out(3L) == ((3L, 0L, 0L, 0.0, false)))
    assert(out(4L) == ((2L, 1L, 1L, 0.5, true)))
    assert(out(5L) == ((0L, 0L, 0L, 0.0, false)))
    assert(out(6L) == ((4L, 0L, 0L, 0.0, false)))
  }

  test("canonicalUrls collapses cosmetic URL variants to one entry") {
    import spark.implicits._
    val d = Seq(
      (1L, "x https://Site1.Example.com:443/P1/?utm_source=f&utm_campaign=x&id=1#sec"),
      (2L, "y https://site1.example.com/P1?id=1"),
      (3L, "z http://Tracker.example.org:80/a/b/"),
      (4L, "w http://tracker.example.org/a/b?"),
      (5L, "v http://tracker.example.org/a/b and again http://tracker.example.org/a/b/"))
      .toDF("doc_id", "text")
    val out = Corpus.canonicalUrls(d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.size == 2, s"got ${out.keySet}")
    assert(out("https://site1.example.com/P1?id=1") == ((2L, 2L)))
    assert(out("http://tracker.example.org/a/b") == ((4L, 3L)))
  }

  test("perSourceSample: exactly min(k,n) per source, window-equivalent") {
    import spark.implicits._
    val d = (1L to 300L).map(i =>
      (i, if (i <= 280) "big" else if (i <= 295) "mid" else "tiny"))
      .toDF("doc_id", "source")
    val out = Corpus.perSourceSample(d, k = 20)
    val bySrc = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc == Map("big" -> 20L, "mid" -> 15L, "tiny" -> 5L))
    // ranks contiguous from 1 and equal to the window-rank reference
    import org.apache.spark.sql.expressions.Window
    val hv = conv(substring(md5(col("doc_id").cast("string")), 1, 13),
      16, 10).cast("long")
    val ref = d.withColumn("hv", hv)
      .withColumn("smp_rank", row_number().over(
        Window.partitionBy("source").orderBy(col("hv"), col("doc_id"))))
      .filter(col("smp_rank") <= 20)
      .select(col("source"), col("smp_rank").cast("long").as("rank"),
        col("doc_id"))
    assert(out.except(ref).isEmpty && ref.except(out).isEmpty)
    // the scale shape: no Window operator anywhere in the plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window leaked into plan:\n$plan")
  }

  test("thresholdCalibration: per-threshold pair/doc counts from one table") {
    import spark.implicits._
    val pairs = Seq(
      (1L, 2L, 0.95), (1L, 3L, 0.95), // doc 2,3 removed at every threshold
      (4L, 5L, 0.72),                 // survives ≥0.5/0.6/0.7 only
      (6L, 7L, 0.55),                 // survives ≥0.5 only
      (8L, 2L, 0.61))                 // id_b=2 already counted at ≤0.6
      .toDF("id_a", "id_b", "jaccard")
    val got = Dedup.thresholdCalibration(pairs, Seq(0.5, 0.7, 0.9))
      .collect().map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got(0.5) == ((5L, 4L))) // pairs: all 5; removed: {2,3,5,7}
    assert(got(0.7) == ((3L, 3L))) // {95,95,72}; removed {2,3,5}
    assert(got(0.9) == ((2L, 2L))) // {95,95}; removed {2,3}
  }

  test("canaryHits: substring (mid-token) hits, copy counts, source spread") {
    import spark.implicits._
    val d = Seq(
      (1L, "web", "plain text with CANARY-X-1 marker"),
      (2L, "web", "embeddedCANARY-X-1insideatoken"),     // mid-token hit
      (3L, "books", "two copies CANARY-X-1 and CANARY-X-1"),
      (4L, "web", "no marker at all"),
      (5L, "code", "other marker CANARY-Y-2"))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.canaryHits(d, Seq("CANARY-X-1", "CANARY-Y-2"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("CANARY-X-1") == ((3L, 4L, 2L))) // 3 docs, 4 copies, 2 srcs
    assert(out("CANARY-Y-2") == ((1L, 1L, 1L)))
  }

  test("dedupSavings: per-source doc/token totals vs keep-lowest-id") {
    import spark.implicits._
    val d = Seq(
      (1L, "web", "a b c"),      // kept (3 tokens)
      (2L, "web", "a b c"),      // dup of 1 → dropped
      (3L, "books", "a b c"),    // dup of 1 (cross-source) → dropped
      (4L, "books", "x y"),      // unique, kept
      (5L, "web", "z"))          // unique, kept
      .toDF("doc_id", "source", "text")
    val out = Corpus.dedupSavings(d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(out("web") == ((3L, 2L, 7L, 4L, 0.428571)))
    assert(out("books") == ((2L, 1L, 5L, 2L, 0.6)))
  }

  test("noveltyContribution: first doc owns shared shingles, dup scores 0") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d"),     // shingles {a b c, b c d} — first owner
      (2L, "a b c d"),     // exact dup → novelty 0
      (3L, "c d e f g"),   // {c d e, d e f, e f g} — all new
      (4L, "x y"))         // short → whole-token-list shingle, new
      .toDF("doc_id", "text")
    val out = Corpus.noveltyContribution(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(out(1L) == ((2L, 2L, 1.0)))
    assert(out(2L) == ((2L, 0L, 0.0)))
    assert(out(3L) == ((3L, 3L, 1.0)))
    assert(out(4L) == ((1L, 1L, 1.0)))
  }

  test("codeSignals: code block trips 2-of-5 votes, prose stays below") {
    import spark.implicits._
    val code = "function f(a) {\n  var x = a;\n  return x;\n}"
    val prose = "this is a perfectly ordinary sentence about nothing."
    val proseLong = (1 to 40).map(i => s"prose line number $i.").mkString("\n")
    val block = "\nfunction calc(x) {\n  var y = x + 1;\n  return y * 2;" +
      "\n}\nimport os\nclass Foo {\n  public int z = 3;\n}"
    val d = Seq((1L, code), (2L, prose), (3L, proseLong + block))
      .toDF("doc_id", "text")
    val out = TextAnalysis.codeSignals(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3),
        r.getLong(5), r.getBoolean(6)))).toMap
    // doc 1: 4 code-line endings of 4 lines (frac vote), kw {function,
    // var, return} (kw vote), indent 2/4 (vote) → is_code
    assert(out(1L)._4, s"pure code not detected: ${out(1L)}")
    assert(out(2L) == ((0L, 0L, 0L, false)))
    // doc 3: prose dilutes every fraction, but n_code_lines = 7 >= 5 and
    // kw_hits = 7 >= 3 still vote it in
    assert(out(3L)._1 == 7L && out(3L)._2 == 7L && out(3L)._4,
      s"appended block not detected: ${out(3L)}")
  }

  test("mixWaterfill: caps at availability, redistributes, conserves budget") {
    import spark.implicits._
    // one huge source, two tiny ones: sqrt weights overallocate the tiny
    // sources → they cap at avail, the excess flows back to the big one
    val d = Seq.tabulate(100)(i => (i.toLong, "big",
        (1 to 50).map(j => s"w$j").mkString(" "))) ++
      Seq((200L, "tinyA", "a b c"), (201L, "tinyB", "x y"))
    val out = Corpus.mixWaterfill(d.toDF("doc_id", "source", "text"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(3), r.getBoolean(4)))).toMap
    val budget = (100 * 50 + 3 + 2) * 0.5
    assert(out("tinyA") == ((3L, 3.0, true)))
    assert(out("tinyB") == ((2L, 2.0, true)))
    val (bigAvail, bigAlloc, bigCapped) = out("big")
    assert(bigAvail == 5000L && !bigCapped)
    // uncapped source absorbs the remainder: alloc = budget - capped sum
    assert(math.abs(bigAlloc - (budget - 5)) < 1e-6,
      s"big alloc $bigAlloc != ${budget - 5}")
  }

  test("asofJoin custom operator: latest-at-or-before, ties, no-match nulls") {
    import spark.implicits._
    import org.apache.spark.sql.graft.AsOfJoinOps
    val l = Seq((1L, 10L, 5L), (1L, 11L, 20L), (2L, 12L, 7L),
      (3L, 13L, 1L))
      .toDF("k", "eid", "ts")
    val r = Seq((1L, 5L, "a"), (1L, 20L, "b"), (1L, 25L, "c"),
      (2L, 8L, "d"))
      .toDF("rk", "rts", "v")
    val out = AsOfJoinOps.asofJoin(l, r, "k", "ts", "rk", "rts")
      .select("eid", "rts", "v").collect()
      .map(x => x.getLong(0) -> ((Option(x.get(1)), Option(x.get(2)))))
      .toMap
    assert(out(10L) == ((Some(5L), Some("a"))))   // latest <= 5 is ts 5 (tie)
    assert(out(11L) == ((Some(20L), Some("b"))))  // 20 <= 20, 25 excluded
    assert(out(12L) == ((None, None)))            // right ts 8 > left 7
    assert(out(13L) == ((None, None)))            // key with no right rows
    // multi-partition correctness: same answers under a 7-partition shuffle
    val big = AsOfJoinOps.asofJoin(
      l.repartition(7), r.repartition(7), "k", "ts", "rk", "rts")
      .select("eid", "rts", "v").collect()
      .map(x => x.getLong(0) -> ((Option(x.get(1)), Option(x.get(2)))))
      .toMap
    assert(big == out)
    // inner mode: exactly the matched subset, no null-padded rows
    val inner = AsOfJoinOps.asofJoinInner(l, r, "k", "ts", "rk", "rts")
      .select("eid", "rts", "v").collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getString(2)))).toMap
    assert(inner == Map(10L -> ((5L, "a")), 11L -> ((20L, "b"))), s"$inner")
    // inner output schema keeps the right side non-nullable-compatible
    // row count under repartition too
    val innerBig = AsOfJoinOps.asofJoinInner(
      l.repartition(7), r.repartition(7), "k", "ts", "rk", "rts")
      .select("eid", "rts", "v").collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getString(2)))).toMap
    assert(innerBig == inner)
  }

  test("pointInIntervalBroadcast: randomized equivalence with equi+BETWEEN") {
    import spark.implicits._
    import org.apache.spark.sql.graft.IntervalJoinOps
    // tiny domains force duplicate keys, nested/point/empty intervals,
    // multi-interval hits per point, and nulls on both sides
    val rnd = new scala.util.Random(77)
    def longOrNull(bound: Int): Option[Long] =
      if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(bound).toLong)
    for (trial <- 1 to 4) {
      val points = Seq.fill(120) {
        (longOrNull(4), longOrNull(25), rnd.nextInt(100000).toLong)
      }.toDF("pk", "ts", "pid")
      val intervals = Seq.fill(40) {
        val a = longOrNull(25); val b = longOrNull(25)
        (longOrNull(4), a, b.map(x => a.getOrElse(0L).max(x)),
          rnd.nextInt(100000).toLong)
      }.toDF("k", "lo", "hi", "iid")
      def ref(outer: Boolean) = points.join(intervals,
          points("pk") === intervals("k") &&
            points("ts") >= intervals("lo") &&
            points("ts") <= intervals("hi"),
          if (outer) "left" else "inner")
        .select("pid", "iid").collect()
        .map(r => r.get(0) + "/" + r.get(1)).sorted.toSeq
      for (outer <- Seq(false, true)) {
        val got = IntervalJoinOps.pointInIntervalBroadcast(
          points.repartition(5), intervals,
          "pk", "ts", "k", "lo", "hi", outer)
          .select("pid", "iid").collect()
          .map(r => r.get(0) + "/" + r.get(1)).sorted.toSeq
        assert(got == ref(outer), s"trial $trial outer=$outer mismatch")
      }
    }
  }

  test("benchmarkScrubAudit: contaminated release scrubs to zero leaks") {
    import spark.implicits._
    val evalText = (1 to 40).map(i => s"evaltok$i").mkString(" ") // ≫ 50 chars
    val train = Seq(
      (1L, s"prefix words then $evalText and a suffix"), // contaminated
      (2L, "an unrelated clean training document with its own content"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, evalText)).toDF("doc_id", "text")
    val r = Dedup.benchmarkScrubAudit(train, bench).head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 1L)   // sizes
    assert(r.getLong(2) == 1L, s"contaminated doc not cut: $r")
    assert(r.getLong(3) > 300L, s"span not removed: $r") // the quote is big
    assert(r.getLong(4) == 0L && r.getBoolean(5), s"residual leaks: $r")
  }

  test("markdownSignals: planted markdown votes in, prose and lookalikes don't") {
    import spark.implicits._
    val md = "# Title\n- item one\n- item two\n| a | b |\n| 1 | 2 |\n" +
      "see [link](https://x.y)\n```\ncode\n```"
    val prose = "plain text mentioning a # symbol mid-line and a [bracket]"
    val half = "## heading only, nothing else markdownish"
    val d = Seq((1L, md), (2L, prose), (3L, half)).toDF("doc_id", "text")
    val out = TextAnalysis.markdownSignals(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getBoolean(7)))).toMap
    assert(out(1L) == ((1L, 2L, 2L, 1L, 2L, 5L, true)))
    // '#' mid-line and '[bracket]' without '(url)' must not count
    assert(out(2L) == ((0L, 0L, 0L, 0L, 0L, 0L, false)))
    // one signal (heading) is not enough for the 2-of-5 vote
    assert(out(3L)._1 == 1L && !out(3L)._7)
  }

  test("asofJoin: randomized equivalence with a driver-side reference") {
    import spark.implicits._
    import org.apache.spark.sql.graft.AsOfJoinOps
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val lRows = Seq.fill(200)(
        (rnd.nextInt(20).toLong, rnd.nextInt(1000).toLong))
        .zipWithIndex.map { case ((k, ts), i) => (k, i.toLong, ts) }
      val rRows = Seq.fill(150)(
        (rnd.nextInt(20).toLong, rnd.nextInt(1000).toLong))
        .distinct.zipWithIndex
        .map { case ((k, ts), i) => (k, ts, s"v$i") }
      val got = AsOfJoinOps.asofJoin(
        lRows.toDF("k", "eid", "ts"), rRows.toDF("rk", "rts", "v"),
        "k", "ts", "rk", "rts")
        .select("eid", "v").collect()
        .map(x => x.getLong(0) -> Option(x.get(1))).toMap
      val rByK = rRows.groupBy(_._1)
      val want = lRows.map { case (k, eid, ts) =>
        eid -> rByK.getOrElse(k, Seq.empty)
          .filter(_._2 <= ts).sortBy(_._2).lastOption.map(_._3)
      }.toMap
      assert(got == want, s"trial $trial mismatch")
      // inner mode drops exactly the None entries of the outer result
      val gotInner = AsOfJoinOps.asofJoinInner(
        lRows.toDF("k", "eid", "ts"), rRows.toDF("rk", "rts", "v"),
        "k", "ts", "rk", "rts")
        .select("eid", "v").collect()
        .map(x => x.getLong(0) -> x.getString(1)).toMap
      val wantInner = want.collect { case (eid, Some(v)) => eid -> v }
      assert(gotInner == wantInner, s"trial $trial inner mismatch")
      // the broadcast execs must agree with the shuffle execs exactly
      val gotB = AsOfJoinOps.asofJoinBroadcast(
        lRows.toDF("k", "eid", "ts").repartition(5),
        rRows.toDF("rk", "rts", "v"), "k", "ts", "rk", "rts")
        .select("eid", "v").collect()
        .map(x => x.getLong(0) -> Option(x.get(1)).map(_.toString)).toMap
      assert(gotB == want, s"trial $trial broadcast-outer mismatch")
      val gotBI = AsOfJoinOps.asofJoinBroadcastInner(
        lRows.toDF("k", "eid", "ts").repartition(5),
        rRows.toDF("rk", "rts", "v"), "k", "ts", "rk", "rts")
        .select("eid", "v").collect()
        .map(x => x.getLong(0) -> x.getString(1)).toMap
      assert(gotBI == wantInner, s"trial $trial broadcast-inner mismatch")
    }
  }

  test("compressionSignal: spam flags, prose doesn't, empty is safe") {
    import spark.implicits._
    val d = Seq(
      (1L, "spam " * 200),
      (2L, "a reasonably varied sentence mentioning unrepeated concepts" +
        " like zebras, quasars, and marmalade in one pass"),
      (3L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.compressionSignal(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(3),
        r.getBoolean(4)))).toMap
    assert(out(1L)._3 && out(1L)._2 < 0.05, s"spam: ${out(1L)}")
    assert(!out(2L)._3 && out(2L)._2 > 0.4, s"prose: ${out(2L)}")
    assert(out(3L) == ((0L, 1.0, false)))
    // determinism: same text → same deflate size on every evaluation
    val sizes = (1 to 3).map(_ => TextAnalysis.compressionSignal(d)
      .filter($"doc_id" === 1L).head().getLong(2))
    assert(sizes.distinct.size == 1)
  }

  test("shardedProfileGate: sketch merge matches whole-corpus sketch") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val out = Corpus.shardedProfileGate(d, Seq("doc_id", "lang", "source"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(out.keySet == Set("doc_id", "lang", "source"))
    out.foreach { case (c, (n, close, within)) =>
      assert(n > 0 && close && within, s"$c: n=$n close=$close within=$within")
    }
  }

  test("s23 stream left-outer join: both matched and null rows emitted") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("s23_stream_left_outer_join")(
      spark, dir).collect()
    val (matched, unmatched) = out.partition(_.get(2) != null)
    assert(unmatched.nonEmpty,
      "watermark flush emitted no purchase-less clicks")
    // the certainty cutoff keeps every pre-cutoff click exactly once per
    // match (or once null) — cross-check totals vs the batch left join
    val ev = graft.Tables.load(spark, dir, "events")
    import org.apache.spark.sql.functions._
    val maxUs = ev.filter(col("event_type").isin("click", "purchase"))
      .groupBy("event_type").agg(max(unix_micros(col("ts"))).as("m"))
      .agg(min(col("m"))).head().getLong(0)
    val c = ev.filter(col("event_type") === "click")
      .filter(unix_micros(col("ts")) <= maxUs - 7200000000L)
      .select(col("user_id"), col("event_id").as("click_id"),
        unix_micros(col("ts")).as("c_us"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"),
        unix_micros(col("ts")).as("p_us"))
    val batch = c.join(p, col("user_id") === col("p_user") &&
      (col("p_us") - col("c_us")).between(1, 300000000L), "left_outer")
    assert(out.length == batch.count(),
      s"${out.length} streamed vs ${batch.count()} batch rows")
    assert(matched.length ==
      batch.filter(col("purchase_id").isNotNull).count())
  }

  test("intervalJoin custom operator: overlap, bounds, nulls, partitions") {
    import spark.implicits._
    import org.apache.spark.sql.graft.IntervalJoinOps
    // key 1: intervals [10,20] (a) and [15,30] (b) overlap on [15,20];
    // key 2: one interval; key 3: right rows with no interval
    val l = Seq((1L, "a", 10L, 20L), (1L, "b", 15L, 30L),
      (2L, "c", 5L, 6L))
      .toDF("k", "iv", "lo", "hi")
    val r = Seq((1L, 101L, 9L), (1L, 102L, 15L), (1L, 103L, 20L),
      (1L, 104L, 25L), (1L, 105L, 31L), (2L, 201L, 6L), (3L, 301L, 10L))
      .toDF("rk", "rid", "ts")
    def run(lf: org.apache.spark.sql.DataFrame,
        rf: org.apache.spark.sql.DataFrame) =
      IntervalJoinOps.intervalJoin(lf, rf, "k", "lo", "hi", "rk", "ts")
        .select("rid", "iv").collect()
        .map(x => (x.getLong(0), x.getString(1))).sorted.toSeq
    val out = run(l, r)
    // 101 (ts 9 < every start) and 105 (ts 31 > every end) match nothing;
    // 102/103 sit in both overlapping intervals; 104 only in b; 301 has
    // no intervals for its key
    assert(out == Seq((102L, "a"), (102L, "b"), (103L, "a"),
      (103L, "b"), (104L, "b"), (201L, "c")), s"got $out")
    // inclusive bounds both ends: ts 15 and 20 match [10,20]; ts 31 and
    // 9 don't; ts in two overlapping intervals pairs with both
    // multi-partition: identical under a 5-way shuffle
    assert(run(l.repartition(5), r.repartition(5)) == out)
    // null keys/bounds/ts never join
    val ln = l.unionAll(Seq((null.asInstanceOf[java.lang.Long], "n",
      0L, 99L)).toDF("k", "iv", "lo", "hi")
      .selectExpr("CAST(k AS BIGINT) k", "iv", "lo", "hi"))
    assert(run(ln, r) == out)
  }

  test("intervalJoin: randomized equivalence with the x04 composition") {
    import spark.implicits._
    import org.apache.spark.sql.graft.IntervalJoinOps
    val rnd = new scala.util.Random(7)
    val width = 50L
    // every 9th interval is degenerate (lo > hi) — must match nothing
    val lRows = Seq.fill(300)((rnd.nextInt(10).toLong,
      rnd.nextInt(500).toLong)).zipWithIndex
      .map { case ((k, ts), i) =>
        if (i % 9 == 8) (k, i.toLong, ts + width, ts + 1)
        else (k, i.toLong, ts + 1, ts + width)
      }
    val rRows = Seq.fill(300)((rnd.nextInt(10).toLong,
      rnd.nextInt(500).toLong)).zipWithIndex
      .map { case ((k, ts), i) => (k, 1000L + i, ts) }
    val l = lRows.toDF("k", "lid", "lo", "hi")
    val r = rRows.toDF("rk", "rid", "ts")
    val got = IntervalJoinOps.intervalJoin(l, r, "k", "lo", "hi",
      "rk", "ts")
      .select("lid", "rid").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    val want = (for {
      (k, lid, lo, hi) <- lRows
      (rk, rid, ts) <- rRows
      if rk == k && ts >= lo && ts <= hi
    } yield (lid, rid)).sorted
    assert(got == want, s"${got.size} pairs vs ${want.size} expected")
  }

  test("intervalJoin leftOuter: unmatched intervals null-extend, matched don't") {
    import spark.implicits._
    import org.apache.spark.sql.graft.IntervalJoinOps
    // key 1: [10,20] matches ts 15; [25,26] brackets nothing;
    // key 2: interval but no right rows at all;
    // key 3 right rows exist but no intervals (must NOT appear)
    val l = Seq((1L, "a", 10L, 20L), (1L, "b", 25L, 26L),
      (2L, "c", 5L, 6L))
      .toDF("k", "iv", "lo", "hi")
    val r = Seq((1L, 101L, 15L), (3L, 301L, 10L)).toDF("rk", "rid", "ts")
    val out = IntervalJoinOps
      .intervalJoinLeftOuter(l, r, "k", "lo", "hi", "rk", "ts")
      .select("iv", "rid").collect()
      .map(x => (x.getString(0),
        if (x.isNullAt(1)) -1L else x.getLong(1))).sorted.toSeq
    assert(out == Seq(("a", 101L), ("b", -1L), ("c", -1L)), s"got $out")
    // null left key survives as an unmatched row (SQL LEFT JOIN keeps it)
    val ln = l.unionAll(Seq(("x", 0L, 99L)).toDF("iv", "lo", "hi")
      .selectExpr("CAST(NULL AS BIGINT) k", "iv", "lo", "hi")
      .select("k", "iv", "lo", "hi"))
    val withNull = IntervalJoinOps
      .intervalJoinLeftOuter(ln, r, "k", "lo", "hi", "rk", "ts")
      .select("iv", "rid").collect()
      .map(x => (x.getString(0),
        if (x.isNullAt(1)) -1L else x.getLong(1))).sorted.toSeq
    assert(withNull == Seq(("a", 101L), ("b", -1L), ("c", -1L),
      ("x", -1L)), s"got $withNull")
  }

  test("intervalJoin fuzz: dup ts x dup keys x nested intervals vs BETWEEN oracle") {
    // ScalaCheck property over the subtlest code in the repo (the
    // zipPartitions plane-sweep merge): tiny key/ts domains force heavy
    // timestamp collisions, fully-nested and point intervals, and
    // duplicate (key, start) rows; every case also runs repartitioned so
    // intervals straddle partition-boundary sort runs. Oracle = the
    // composable equi-join + BETWEEN filter (inner) / LEFT JOIN (outer).
    import spark.implicits._
    import org.apache.spark.sql.graft.IntervalJoinOps
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.propBoolean
    val keyGen = Gen.choose(0L, 2L) // 3 keys → many duplicates
    val tsGen = Gen.choose(0L, 12L) // 13 ticks → many collisions
    val lRowGen = for {
      k <- keyGen; a <- tsGen; b <- tsGen
    } yield (k, a.min(b), a.max(b)) // nested/degenerate/point intervals
    val caseGen = for {
      nl <- Gen.choose(0, 25); nr <- Gen.choose(0, 25)
      ls <- Gen.listOfN(nl, lRowGen)
      rs <- Gen.listOfN(nr, Gen.zip(keyGen, tsGen))
    } yield (ls, rs)
    var checked = 0
    val prop = Prop.forAll(caseGen) { case (ls, rs) =>
      val l = ls.zipWithIndex.map { case ((k, lo, hi), i) =>
        (k, i.toLong, lo, hi) }
        .toDF("k", "lid", "lo", "hi").repartition(3, col("k"))
      val r = rs.zipWithIndex.map { case ((k, ts), i) =>
        (k, 100L + i, ts) }
        .toDF("rk", "rid", "ts").repartition(3, col("rk"))
      val inner = IntervalJoinOps
        .intervalJoin(l, r, "k", "lo", "hi", "rk", "ts")
        .select("lid", "rid").collect()
        .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
      val innerWant = (for {
        ((k, lo, hi), i) <- ls.zipWithIndex
        ((rk, ts), j) <- rs.zipWithIndex
        if rk == k && ts >= lo && ts <= hi
      } yield (i.toLong, 100L + j)).sorted
      val outer = IntervalJoinOps
        .intervalJoinLeftOuter(l, r, "k", "lo", "hi", "rk", "ts")
        .select("lid", "rid").collect()
        .map(x => (x.getLong(0),
          if (x.isNullAt(1)) -1L else x.getLong(1))).sorted.toSeq
      val matchedLeft = innerWant.map(_._1).toSet
      val outerWant = (innerWant ++
        ls.indices.filterNot(i => matchedLeft(i.toLong))
          .map(i => (i.toLong, -1L))).sorted
      checked += 1
      (inner == innerWant) :| s"inner: got $inner want $innerWant" &&
        (outer == outerWant) :| s"outer: got $outer want $outerWant"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, s"fuzz failed after $checked cases: ${res.status}")
  }

  test("readabilitySignals: hand-computed Flesch, floors, empty text") {
    import spark.implicits._
    // "The cat sat. It ran!" → 5 words, 2 sentences, vowel groups:
    // e, a, a, I(+t? 'it' = i), a → The(1) cat(1) sat(1) It(1) ran(1) = 5
    val easy = "The cat sat. It ran!"
    // no terminal punctuation → sentence floor 1; "xyz" has y as vowel
    val noPunct = "strength xyz"
    val d = Seq((1L, easy), (2L, noPunct), (3L, "   ")).toDF("doc_id", "text")
    val out = TextAnalysis.readabilitySignals(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Double]),
        r.getBoolean(5)))).toMap
    val f1 = math.rint((206.835 - 1.015 * (5.0 / 2.0)
      - 84.6 * (5.0 / 5.0)) * 1e4) / 1e4
    assert(out(1L) == ((5L, 2L, 5L, Some(f1), f1 >= 50.0)), s"${out(1L)}")
    // strength: e(1); xyz: y(1) → vowel groups 2, = word count (no floor)
    val f2 = math.rint((206.835 - 1.015 * (2.0 / 1.0)
      - 84.6 * (2.0 / 2.0)) * 1e4) / 1e4
    assert(out(2L) == ((2L, 1L, 2L, Some(f2), true)), s"${out(2L)}")
    // blank → 0 words, flesch NULL, easy_read false (never null)
    assert(out(3L) == ((0L, 1L, 0L, None, false)), s"${out(3L)}")
  }

  test("readabilitySignals: syllable floor lifts vowel-free words") {
    import spark.implicits._
    // 4 words but only 2 vowel groups → floor to word count 4
    val d = Seq((1L, "tsk tsk grr hmm")).toDF("doc_id", "text")
    val r = TextAnalysis.readabilitySignals(d).head()
    assert(r.getLong(1) == 4L && r.getLong(3) == 4L, s"$r")
  }

  test("encodingSignals: each damage class counts, clean text is clean") {
    import spark.implicits._
    val moj = "cafÃ© naÃ¯ve âs"
    val repl = "bad byte � here"
    val ctrl = "bell and null-ish ; c1 "
    val clean = "tabs\tand\nnewlines and\rCR are fine, so is café"
    val d = Seq((1L, moj), (2L, repl), (3L, ctrl), (4L, clean))
      .toDF("doc_id", "text")
    val out = TextAnalysis.encodingSignals(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))).toMap
    // moj: 'Ã'×2 + 'â'×1 = 3 mojibake; C1 bytes   = 2
    assert(out(1L) == ((0L, 0L, 2L, 3L, true)), s"${out(1L)}")
    // one replacement char alone flags
    assert(out(2L) == ((1L, 0L, 0L, 0L, true)), s"${out(2L)}")
    // C0 controls   = 2; C1   = 2
    assert(out(3L) == ((0L, 2L, 2L, 0L, true)), s"${out(3L)}")
    // tab/newline/CR exempt; precomposed é is NOT mojibake
    assert(out(4L) == ((0L, 0L, 0L, 0L, false)), s"${out(4L)}")
  }

  test("attributeSources: excerpts point back to their origin doc") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    def randText(n: Int): String =
      (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val corpus = (1L to 20L).map(i => (i, randText(600)))
      .toDF("doc_id", "text")
    // generations: verbatim 200-char excerpts of docs 3, 9, 17
    val queries = corpus.filter($"doc_id".isin(3L, 9L, 17L))
      .select($"doc_id".as("qid"),
        org.apache.spark.sql.functions.substring($"text", 150, 200)
          .as("qtext"))
    val out = graft.pipeline.Dedup.attributeSources(corpus, queries)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(3)))).toMap
    assert(out.keySet == Set(3L, 9L, 17L), s"$out")
    out.foreach { case (qid, (src, cov)) =>
      assert(src == qid, s"excerpt of $qid attributed to $src")
      // a verbatim excerpt's interior fingerprints all match the source
      assert(cov > 0.8, s"coverage $cov for $qid")
    }
  }

  test("sentenceChunks: budget-aligned, never splits a sentence") {
    import spark.implicits._
    // 10 sentences of 10 tokens; budget 25 → exclusive cumsums 0,10,20,
    // 30… → chunks {0,1,2},{3,4},{5,6,7},{8,9} (cb DIV 25 = 0,0,0,1,1,
    // 2,2,2,3,3)
    val sent = (1 to 10).map(i =>
      (1 to 10).map(j => s"w$i$j").mkString(" ")).mkString(". ") + "."
    val d = Seq((1L, sent), (2L, "   ")).toDF("doc_id", "text")
    val out = Corpus.sentenceChunks(d, maxTokens = 25).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(out.keySet == Set((1L, 0L), (1L, 1L), (1L, 2L), (1L, 3L)),
      s"$out")
    assert(out((1L, 0L)) == ((3L, 30L)) && out((1L, 1L)) == ((2L, 20L)))
    assert(out((1L, 2L)) == ((3L, 30L)) && out((1L, 3L)) == ((2L, 20L)))
    // a single overlong sentence overflows its chunk, never splits
    val long = (1 to 80).map(i => s"t$i").mkString(" ") + "."
    val o2 = Corpus.sentenceChunks(Seq((3L, long)).toDF("doc_id", "text"),
      maxTokens = 25).collect()
    assert(o2.length == 1 && o2.head.getLong(3) == 80L, s"${o2.toSeq}")
  }

  test("langAgreementReport: hand-computed kappa on a 2x2 confusion") {
    import spark.implicits._
    val en = "the cat and the dog of the house went to the park"
    val fr = "le chat et le chien de la maison dans le parc"
    // declared vs detected: 2 en/en + 1 fr/fr agree, 1 fr-declared
    // english text disagrees → po=3/4, marginals (en 2, fr 2)×(en 3,
    // fr 1) → pe=(2·3+2·1)/16=0.5 → kappa=(0.75−0.5)/0.5=0.5
    val d = Seq((1L, "en", en), (2L, "en", en), (3L, "fr", fr),
      (4L, "fr", en)).toDF("doc_id", "lang", "text")
    val r = TextAnalysis.langAgreementReport(d).head()
    assert(r.getLong(0) == 4L && r.getLong(1) == 3L, s"$r")
    assert(r.getDouble(2) == 0.75 && r.getDouble(3) == 0.5, s"$r")
    assert(r.getDouble(4) == 0.5, s"$r")
  }

  test("datasetFingerprint: layout-invariant root, content-sensitive") {
    import spark.implicits._
    val d = (1L to 300L).map(i => (i, s"doc body $i")).toDF("doc_id", "text")
    def root(df: org.apache.spark.sql.DataFrame): String =
      graft.operators.Scale.datasetFingerprint(df)
        .head().getString(3)
    val r = root(d)
    // any physical layout → same root
    assert(root(d.repartition(17)) == r)
    assert(root(d.orderBy($"doc_id".desc)) == r)
    // one changed character anywhere → different root
    val tweaked = d.withColumn("text",
      when($"doc_id" === 250L, lit("doc body 250!")).otherwise($"text"))
    assert(root(tweaked) != r)
  }

  test("datasetFingerprint: bucket count derives from the corpus size " +
      "under a fixed per-bucket budget, floor 64") {
    import spark.implicits._
    val d = (1L to 300L).map(i => (i, s"doc body $i")).toDF("doc_id", "text")
    // 300 docs / budget 50 → 64-floor still wins (ceil(300/50) = 6)
    val floored = graft.operators.Scale.datasetFingerprint(d,
      maxBucketRows = 50L)
    assert(floored.select("bucket").distinct().count() <= 64 &&
      floored.agg(org.apache.spark.sql.functions.max("n")).head()
        .getLong(0) <= 50,
      "64-bucket floor must also satisfy the budget at 300 docs")
    // budget 2 → ceil(300/2) = 150 buckets; every buffer within budget
    // for the modulo split of CONTIGUOUS ids (each residue class gets
    // ceil(300/150) = 2)
    val derived = graft.operators.Scale.datasetFingerprint(d,
      maxBucketRows = 2L)
    assert(derived.select("bucket").distinct().count() == 150,
      "expected ceil(n/budget) buckets")
    assert(derived.agg(org.apache.spark.sql.functions.max("n")).head()
      .getLong(0) <= 2L, "a bucket exceeded the budget")
    // the root still fingerprints CONTENT identically across layouts
    // at the derived depth (count is layout-independent)
    val r150 = derived.head().getString(3)
    assert(graft.operators.Scale.datasetFingerprint(d.repartition(13),
      maxBucketRows = 2L).head().getString(3) == r150)
  }

  test("contrastiveTriplets: ring negative avoids the anchor's cluster") {
    import spark.implicits._
    // ids 1..6; cluster {1,2,3} (pairs 1-2, 1-3); ring order is md5 of
    // 'cp:<id>' — recompute it driver-side to predict each successor
    val ids = (1L to 6L)
    val corpus = ids.map(i => (i, s"text $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("doc_id", "comp")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(
        s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ring = ids.sortBy(i => (md5hex(s"cp:$i"), i)).toIndexedSeq
    def succ(a: Long, k: Int): Long =
      ring((ring.indexOf(a) + k) % ring.length)
    def lb(i: Long): Long = if (i <= 3) 1L else i
    def expectedNeg(a: Long): Option[Long] =
      Seq(succ(a, 1), succ(a, 2)).find(n => lb(n) != lb(a))
    val out = Corpus.contrastiveTriplets(corpus, pairs, labels)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        Option(r.get(2)).map(_.asInstanceOf[Long])).toMap
    assert(out.keySet == Set((1L, 2L), (1L, 3L)))
    assert(out((1L, 2L)) == expectedNeg(1L), s"${out((1L, 2L))}")
    assert(out((1L, 3L)) == expectedNeg(1L))
    // the negative never lands inside the anchor's cluster
    out.values.flatten.foreach(n => assert(lb(n) != 1L, s"neg $n"))
  }

  test("syntheticSignals: template trips all votes, prose passes") {
    import spark.implicits._
    val template = "Buy now and save. Buy now and save. " * 8
    val prose = "Morning fog rolled in early. By noon, the harbor had " +
      "cleared completely and ships resumed their slow procession " +
      "outward! Evening brought rain, a long steady drumming. Nobody " +
      "minded much, least of all the gulls wheeling over the pier."
    val short = "Tiny. Tiny. Tiny." // repeats but under 30 tokens
    val d = Seq((1L, template), (2L, prose), (3L, short))
      .toDF("doc_id", "text")
    val out = TextAnalysis.syntheticSignals(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4), r.getLong(5), r.getBoolean(6))))
      .toMap
    val (nt, ttr, cv, rep, votes, sus) = out(1L)
    assert(nt == 64L && ttr < 0.1 && cv == 0.0 && rep == 16L &&
      votes == 3L && sus, s"template: ${out(1L)}")
    assert(!out(2L)._6 && out(2L)._2 > 0.6, s"prose: ${out(2L)}")
    // support guard: 3 identical one-word sentences vote but n<30
    assert(out(3L)._4 == 3L && !out(3L)._6, s"short: ${out(3L)}")
  }

  test("anchorAlignPairs: parallel docs align, same-lang never pairs") {
    import spark.implicits._
    // en #1 and fr #2 share anchors {Geneva, 1924, 37.5%}; en #3 shares
    // them too but is same-lang as #1 → only cross-lang pairs emit;
    // 'The' (common) and 'the' (lowercase) are not anchors
    val d = Seq(
      (1L, "en", "The summit in Geneva opened in 1924 with 37.5% turnout"),
      (2L, "fr", "Le sommet de Geneva en 1924 avec 37.5% participation"),
      (3L, "en", "Geneva hosted 1924 games, 37.5% attended, the end"),
      (4L, "de", "Unrelated text with no shared anchor tokens here"))
      .toDF("doc_id", "lang", "text")
    val out = Corpus.anchorAlignPairs(d, maxDf = 4, minShared = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(4)))
      .toMap
    assert(out.keySet == Set((1L, 2L), (2L, 3L)), s"$out")
    assert(out((1L, 2L)) == 3L)
  }

  test("rareTokenAudit: unique ids flag, shared vocabulary does not") {
    import spark.implicits._
    val common = "alpha beta gamma delta"
    val d = Seq(
      (1L, s"$common zz-secret-9 aa-secret-1 mm-secret-5 qq-7 kk-3"),
      (2L, common), (3L, common), (4L, s"$common solo"), (5L, "   "))
      .toDF("doc_id", "text")
    val out = Corpus.rareTokenAudit(d, maxDf = 2, riskThreshold = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.getString(3)), r.getBoolean(4)))).toMap
    // common tokens df=5 > 2; doc 1's five uniques are rare → risky;
    // evidence pointer = lexicographic min of its rare tokens
    assert(out(1L) == ((9L, 5L, Some("aa-secret-1"), true)), s"${out(1L)}")
    assert(out(2L) == ((4L, 0L, None, false)), s"${out(2L)}")
    // one rare token is not risky at threshold 5
    assert(out(4L) == ((5L, 1L, Some("solo"), false)), s"${out(4L)}")
    assert(out(5L) == ((0L, 0L, None, false)), s"${out(5L)}")
  }

  test("curriculumStages: readability order, exact quartile cuts") {
    import spark.implicits._
    // flesch strictly decreases with syllables-per-word; 8 docs → 2 per
    // stage at nStages=4; empty doc sorts last (null flesch)
    val docs = (1 to 7).map { i =>
      val word = "ba" * i // i syllables per word
      (i.toLong, s"$word $word $word.")
    } :+ (8L, "  ")
    val out = Corpus.curriculumStages(docs.toDF("doc_id", "text"), 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    // doc 1 easiest (rank 1, stage 1) … doc 7 rank 7 stage 4; empty
    // doc ranks 8, stage 4
    assert(out(1L) == ((1L, 1L)) && out(2L) == ((2L, 1L)), s"$out")
    assert(out(3L) == ((3L, 2L)) && out(4L) == ((4L, 2L)), s"$out")
    assert(out(5L) == ((5L, 3L)) && out(6L) == ((6L, 3L)), s"$out")
    assert(out(7L) == ((7L, 4L)) && out(8L) == ((8L, 4L)), s"$out")
  }

  test("boilerplateLineRemoval: footer stripped, structure preserved") {
    import spark.implicits._
    val footer = "All rights reserved by the Example Company 2024"
    // 12 docs carry the footer (df 12 >= 10); '---' repeats everywhere
    // but is under minLen; blank lines are never eligible
    val docs = (1 to 12).map(i =>
      (i.toLong, s"unique content line $i\n---\n\n$footer")) ++
      Seq((13L, "no footer here\n---"), (14L, footer))
    val out = Corpus.boilerplateLineRemoval(
      docs.toDF("doc_id", "text"), minDf = 10, minLen = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(
        s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // footer gone, separator and blank kept, unique line kept
    assert(out(1L) == ((4L, 1L, md5hex("unique content line 1\n---\n"))),
      s"${out(1L)}")
    assert(out(13L) == ((2L, 0L, md5hex("no footer here\n---"))))
    // a doc that IS only boilerplate cleans to empty
    assert(out(14L) == ((1L, 1L, md5hex(""))), s"${out(14L)}")
  }

  test("winnowAnchorHashes: poly-hash parity, naive winnow, ties, density") {
    import spark.implicits._
    import org.apache.spark.sql.graft.VectorExpressions
    val M = BigInt((1L << 61) - 1)
    // independent reference: BigInt polynomial over code points
    def refHashes(t: String, n: Int): Array[Long] = {
      val cps = t.codePoints().toArray
      (0 to cps.length - n).map { p =>
        cps.slice(p, p + n).foldLeft(BigInt(0))((a, c) =>
          (a * 257 + c) % M).toLong
      }.toArray
    }
    // independent reference: naive O(m·w) window-min, leftmost tie,
    // distinct positions in order
    def refWinnow(h: Array[Long], w: Int): Seq[(Int, Long)] = {
      if (h.length < w) Seq.empty
      else (w - 1 until h.length).map { j =>
        val lo = j - w + 1
        val p = (lo to j).minBy(q => (h(q), q))
        (p, h(p))
      }.distinct
    }
    def run(t: String, n: Int, w: Int): Seq[(Int, Long)] =
      Seq(t).toDF("t")
        .select(explode(VectorExpressions.winnowAnchorHashes(col("t"), n, w))
          .as("a"))
        .select("a.st", "a.h").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq
    // ties: "ababab…" with n=2 repeats the same window hash at every
    // other position — leftmost-min must win inside each w-run
    val texts = Seq("abababababab", "The quick brown fox jumps over it",
      "юникод текст αβγ with mixed scripts", "zzzzzzzzzz")
    for (t <- texts; w <- Seq(2, 4)) {
      val want = refWinnow(refHashes(t, 3), w)
      assert(run(t, 3, w) == want, s"mismatch for '$t' w=$w")
    }
    // m < w → empty (9 cps, n=8 → 2 positions < w=4)
    assert(run("012345678", 8, 4).isEmpty)
    // shorter than n → empty
    assert(run("ab", 8, 4).isEmpty)
    // density on random text ≈ 2/(w+1); wide slack against
    // select-everything / select-nothing regressions
    val rnd = new scala.util.Random(7)
    val big = (1 to 2000).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val n8w4 = run(big, 8, 4)
    val positions = 2000 - 8 + 1
    assert(n8w4 == refWinnow(refHashes(big, 8), 4))
    assert(n8w4.size > positions / 5 && n8w4.size < positions * 3 / 5,
      s"density off: ${n8w4.size} of $positions")
  }

  test("repeatedSpanRemoval stride>1: recall at every phase (ScalaCheck)") {
    // The scaladoc guarantee (Dedup.repeatedSpanRemoval): with stride
    // s, every verbatim repeat >= win + s - 1 chars selects at least
    // one COMMON anchor window in all its occurrences, regardless of
    // each copy's offset phase mod s — and that window is cut from
    // every copy. Plant one shared span at offsets covering ALL phases
    // 0..s-1 across docs and assert (a) every planted doc gets >= 1
    // anchor, (b) every planted doc loses >= win chars (the only
    // possible anchors lie inside the span, so the span is destroyed),
    // (c) an unrelated doc is untouched. Random 26-letter filler makes
    // spurious win-char repeats impossible in practice.
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.propBoolean
    val win = 12
    val stride = 4
    def randText(rnd: scala.util.Random, n: Int): String =
      (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val caseGen = for {
      seed <- Gen.choose(0L, Long.MaxValue)
      extra <- Gen.choose(0, 6) // span length win+stride-1 .. +6
      pads <- Gen.listOfN(stride, Gen.choose(0, 5))
    } yield (seed, extra, pads)
    val prop = Prop.forAll(caseGen) { case (seed, extra, pads) =>
      val rnd = new scala.util.Random(seed)
      val span = randText(rnd, win + stride - 1 + extra)
      // doc i places the span at offset phase i (mod stride shifts by
      // pads(i)*stride so offsets are i, i+4s, … — all phases covered,
      // never congruent across docs unless phases collide)
      val planted = (0 until stride).map { i =>
        val off = i + pads(i) * stride
        (i.toLong, randText(rnd, off) + span + randText(rnd, 30))
      }
      val unrelated = (99L, randText(rnd, 80))
      val df = (planted :+ unrelated).toDF("doc_id", "text")
      val out = Dedup.repeatedSpanRemoval(df, win = win, stride = stride)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
      val perDoc = (0 until stride).map { i =>
        val (nAnchors, removed) = out(i.toLong)
        (nAnchors >= 1L) :| s"doc $i: no anchors (seed=$seed)" &&
          (removed >= win.toLong) :| s"doc $i: removed only $removed"
      }.reduce(_ && _)
      perDoc &&
        (out(99L) == ((0L, 0L))) :| s"unrelated doc touched: ${out(99L)}"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, s"fuzz failed: ${res.status}")
  }

  test("benchmarkSpanRemoval stride>1: cross-corpus recall at every phase (ScalaCheck)") {
    // the cross-corpus form of the winnowing guarantee: an eval span of
    // length >= win + stride - 1 planted in train docs at offsets
    // covering every phase mod stride selects at least one anchor that
    // ALSO gets selected on the bench side (content-defined selection is
    // offset-independent), so every contaminated doc is cut >= win
    // chars; train-only duplicates are NOT this op's job and stay whole
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.propBoolean
    val win = 12
    val stride = 4
    def randText(rnd: scala.util.Random, n: Int): String =
      (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val caseGen = for {
      seed <- Gen.choose(0L, Long.MaxValue)
      extra <- Gen.choose(0, 6)
      pads <- Gen.listOfN(stride, Gen.choose(0, 5))
      benchPad <- Gen.choose(0, 9) // bench copy at its own random offset
    } yield (seed, extra, pads, benchPad)
    val prop = Prop.forAll(caseGen) { case (seed, extra, pads, benchPad) =>
      val rnd = new scala.util.Random(seed)
      val span = randText(rnd, win + stride - 1 + extra)
      val bench = Seq((1000L,
        randText(rnd, benchPad) + span + randText(rnd, 20)))
        .toDF("doc_id", "text")
      val dupBody = randText(rnd, 40)
      val planted = (0 until stride).map { i =>
        (i.toLong, randText(rnd, i + pads(i) * stride) + span +
          randText(rnd, 30))
      }
      val train = (planted ++ Seq(
        (97L, dupBody), (98L, dupBody), // train-only dup: must survive
        (99L, randText(rnd, 80)))).toDF("doc_id", "text")
      val out = Dedup.benchmarkSpanRemoval(train, bench,
          win = win, stride = stride).collect()
        .map(r => r.getLong(0) -> ((r.getLong(3), r.getLong(4)))).toMap
      val perDoc = (0 until stride).map { i =>
        val (nAnchors, removed) = out(i.toLong)
        (nAnchors >= 1L) :| s"doc $i: no anchors (seed=$seed)" &&
          (removed >= win.toLong) :| s"doc $i: removed only $removed"
      }.reduce(_ && _)
      perDoc &&
        (out(97L) == ((0L, 0L))) :| s"train dup cut: ${out(97L)}" &&
        (out(98L) == ((0L, 0L))) :| s"train dup cut: ${out(98L)}" &&
        (out(99L) == ((0L, 0L))) :| s"unrelated cut: ${out(99L)}"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, s"fuzz failed: ${res.status}")
  }

  test("repeatedSpanRemoval stride>1: non-congruent offsets, span destroyed") {
    import spark.implicits._
    // deterministic mirror of the property: phases 1 and 3 (mod 4),
    // NOT congruent — positional st % stride sampling would select
    // disjoint windows and miss the repeat; winnowing must not
    val rnd = new scala.util.Random(42)
    def randText(n: Int): String =
      (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val span = randText(15) // win + stride - 1 = 15, the guarantee floor
    val a = randText(1) + span + randText(25)  // offset 1 (phase 1)
    val b = randText(7) + span + randText(30)  // offset 7 (phase 3)
    val c = randText(60)
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val out = Dedup.repeatedSpanRemoval(df, win = 12, stride = 4)
    val rows = out.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getString(5)))).toMap
    // both copies lose >= 12 chars; the span cannot survive intact
    assert(rows(1L)._3 >= 1 && rows(1L)._4 >= 12, s"${rows(1L)}")
    assert(rows(2L)._3 >= 1 && rows(2L)._4 >= 12, s"${rows(2L)}")
    assert(rows(3L) == ((60L, 60L, 0L, 0L,
      java.security.MessageDigest.getInstance("MD5")
        .digest(c.getBytes("UTF-8")).map("%02x".format(_)).mkString)))
    // the anchor window is cut from EVERY copy: verify on clean text
    // by re-running the cut with anchors exposed via clean_dg equality
    // between a doc and its from-scratch expected md5 is already the
    // gate's job (p80w); here assert the spans differ from original
    assert(rows(1L)._5 !=
      java.security.MessageDigest.getInstance("MD5")
        .digest(a.getBytes("UTF-8")).map("%02x".format(_)).mkString)
  }

  test("winnowing: shared-substring guarantee and selection density") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def randText(n: Int): String =
      (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val shared = randText(40) // >> w+k-1 = 11
    val a = randText(200) + shared + randText(200)
    val b = randText(150) + shared + randText(250)
    val c = randText(400) // unrelated
    val d = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    // guarantee: a 40-char shared substring MUST produce shared
    // fingerprints between 1 and 2 (k=8, w=4 → floor 11)
    val pairSet = graft.pipeline.Dedup.winnowPairs(d, 8, 4, 1)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet.contains((1L, 2L)),
      s"guarantee violated: shared 40-char substring not detected ($pairSet)")
    // random 26-letter text: cross-doc 8-gram collisions are ~0, so the
    // unrelated doc pairs up with nobody
    assert(!pairSet.exists(p => p._1 == 3L || p._2 == 3L), s"$pairSet")
    // density: expected ~2/(w+1) = 0.4 of positions selected; allow wide
    // slack but catch select-everything / select-nothing bugs
    val nFp = graft.pipeline.Dedup.winnowFingerprints(d, 8, 4)
      .filter($"doc_id" === 3L).count()
    val positions = 400 - 8 + 1
    assert(nFp > positions / 10 && nFp < positions * 8 / 10,
      s"density off: $nFp of $positions")
  }

  test("winnowing: selection is deterministic and shift-invariant on h") {
    import spark.implicits._
    // same content at different offsets selects the same HASH set
    val core = "the quick brown fox jumps over the lazy dog again and again"
    val d = Seq((1L, core), (2L, "XYZprefixXYZ " + core)).toDF("doc_id", "text")
    val fps = graft.pipeline.Dedup.winnowFingerprints(d, 8, 4).collect()
      .groupBy(_.getLong(0))
    val h1 = fps(1L).map(_.getString(1)).toSet
    val h2 = fps(2L).map(_.getString(1)).toSet
    // every doc-1 fingerprint whose window lies fully in the shared
    // suffix must reappear in doc 2 (position-independent h join key)
    assert((h1 -- h2).isEmpty || (h1 & h2).size >= h1.size - 3,
      s"shift broke hash fingerprints: ${(h1 -- h2).size} lost of ${h1.size}")
    assert((h1 & h2).nonEmpty)
  }

  test("licenseSignals: precedence, marker counts, lookalikes") {
    import spark.implicits._
    val mit = "// Copyright 2024 Acme\nMIT License\ntext follows"
    // both copyleft and permissive markers → copyleft wins
    val dual = "Apache License here but also GNU General Public License"
    val spdxOnly = "SPDX-License-Identifier: MPL-2.0\ncode"
    // 'copyrighted' (no trailing space after 'copyright') must not count
    val look = "this text is copyrighted material, MIT Licensed even"
    val d = Seq((1L, mit), (2L, dual), (3L, spdxOnly), (4L, look))
      .toDF("doc_id", "text")
    val out = TextAnalysis.licenseSignals(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))).toMap
    assert(out(1L) == ((0L, 1L, 0L, 1L, "permissive")), s"${out(1L)}")
    assert(out(2L) == ((0L, 1L, 1L, 0L, "copyleft")), s"${out(2L)}")
    assert(out(3L) == ((1L, 0L, 0L, 0L, "spdx-other")), s"${out(3L)}")
    // 'MIT Licensed' contains the 'MIT License' marker (substring
    // semantics are the documented contract), so doc 4 is permissive;
    // but 'copyrighted' has no space after 'copyright' → line count 0
    assert(out(4L)._4 == 0L && out(4L)._5 == "permissive", s"${out(4L)}")
  }

  test("numericSignals: price table trips the vote, prose does not") {
    import spark.implicits._
    val table = (1 to 25).map(i => s"$$${i}.50").mkString(" ")
    val prose = "a sentence with one number 42 and mostly ordinary words"
    val d = Seq((1L, table), (2L, prose), (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.numericSignals(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3),
        r.getLong(6), r.getBoolean(7)))).toMap
    // 25 numeric tokens, 25 currency marks → all four votes
    assert(out(1L) == ((25L, 25L, 4L, true)), s"${out(1L)}")
    assert(out(2L)._3 == 0L && !out(2L)._4, s"${out(2L)}")
    assert(out(3L) == ((0L, 0L, 0L, false)), s"${out(3L)}")
  }

  test("chatSignals: dialogue votes in, prose with a colon does not") {
    import spark.implicits._
    val chat = "User: hi\nAssistant: hello\nUser: ok?\nAssistant: yes"
    val lopsided = "Q: one\nQ: two\nQ: three\nA: answer"
    val prose = "Note: this mentions User: mid-line and the word Assistant"
    val d = Seq((1L, chat), (2L, lopsided), (3L, prose))
      .toDF("doc_id", "text")
    val out = TextAnalysis.chatSignals(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getLong(5), r.getBoolean(6)))).toMap
    // 4 role lines, 2 q, 2 a, balanced → all four votes
    assert(out(1L) == ((4L, 2L, 2L, true, 4L, true)), s"${out(1L)}")
    // 3 q vs 1 a: role-lines + q votes only → 2 < 3, not chat
    assert(out(2L) == ((4L, 3L, 1L, false, 2L, false)), s"${out(2L)}")
    // '^' anchor: mid-line 'User:' never counts
    assert(out(3L) == ((0L, 0L, 0L, false, 0L, false)), s"${out(3L)}")
  }

  test("funnelSteps: strict first-match ordering, same-instant excluded") {
    import spark.implicits._
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    // user 1: full ordered funnel.
    // user 2: click at the SAME µs as the first view — strict '>' must
    //   exclude it (and with no later click, the purchase can't count).
    // user 3: purchase BEFORE any click — sequencing must exclude it.
    // user 4: second view is later; click before the FIRST view must
    //   not count (first-match anchors, not any-match).
    val ev = Seq(
      (1L, "view", 1000000L), (1L, "click", 2000000L),
      (1L, "purchase", 3000000L),
      (2L, "view", 1000000L), (2L, "click", 1000000L),
      (2L, "purchase", 5000000L),
      (3L, "view", 1000000L), (3L, "purchase", 2000000L),
      (3L, "click", 3000000L),
      (4L, "click", 500000L), (4L, "view", 1000000L),
      (4L, "view", 4000000L))
      .map { case (u, t, us) => (u, t, ts(us)) }
      .toDF("user_id", "event_type", "ts")
    val got = graft.operators.Pipeline
      .funnelSteps(ev, Seq("view", "click", "purchase"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    // views: users 1-4; clicks strictly after first view: users 1, 3;
    // purchases strictly after that click: user 1 only
    assert(got == Seq(("1_view", 4L, 1.0), ("2_click", 2L, 0.5),
      ("3_purchase", 1L, 0.5)), got.toString)
  }

  test("ohlcBars: open/close by (us, event_id) order, same-instant ties") {
    import spark.implicits._
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val h = 3600000000L
    // bucket 0: open at us=10 (5.0); two events at the SAME us=20 —
    // event_id order must pick id 4 (9.0) as close, not id 3 (2.0).
    // bucket 1: single event. Null value dropped entirely.
    val ev = Seq(
      (1L, "a", 10L, Some(5.0)), (2L, "a", 15L, Some(7.0)),
      (3L, "a", 20L, Some(2.0)), (4L, "a", 20L, Some(9.0)),
      (5L, "a", h + 1, Some(4.0)), (6L, "a", 16L, None: Option[Double]))
      .map { case (id, t, us, v) => (id, t, ts(us), v) }
      .toDF("event_id", "event_type", "ts", "value")
    val got = graft.operators.Pipeline.ohlcBars(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6)))
      .toSeq
    assert(got == Seq(
      ("a", 0L, 5.0, 9.0, 2.0, 9.0, 4L),
      ("a", 1L, 4.0, 4.0, 4.0, 4.0, 1L)), got.toString)
  }

  test("retentionCohorts: cohort by first week, distinct-active cells") {
    import spark.implicits._
    val w = 604800000000L
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    // cohort week 0: users 1, 2 (user 1 active twice in week 1 — counts
    // once); cohort week 1: user 3. user 2 returns in week 2 only.
    val ev = Seq(
      (1L, 10L), (1L, w + 5L), (1L, w + 9L),
      (2L, 20L), (2L, 2 * w + 1L),
      (3L, w + 30L))
      .map { case (u, us) => (u, ts(us)) }.toDF("user_id", "ts")
    val got = graft.operators.Pipeline.retentionCohorts(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got == Seq(
      (0L, 0L, 2L, 2L, 1.0),
      (0L, 1L, 1L, 2L, 0.5),
      (0L, 2L, 1L, 2L, 0.5),
      (1L, 0L, 1L, 1L, 1.0)), got.toString)
  }

  test("triangleCount: open wedges stay open; dup/reversed edges collapse") {
    import spark.implicits._
    // triangle 1-2-3; open wedge 3-4-5 (no 3-5 edge); pendant 5-6.
    // Edge 2-3 appears duplicated AND reversed — orientation+distinct
    // must collapse it. The sf0.01 gate graph is complete (every wedge
    // closes), so the open-wedge distinction is pinned HERE.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 2L), (2L, 3L), (1L, 3L),
      (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("a", "b")
    val r = graft.operators.Pipeline.triangleCount(edges).collect().head
    val (ne, nw, nt) = (r.getLong(0), r.getLong(1), r.getLong(2))
    // oriented distinct edges: 1-2,1-3,2-3,3-4,4-5,5-6
    assert(ne == 6L, s"n_edges $ne")
    // wedges (a<m<c): (1,2,3),(1,3,4),(2,3,4),(3,4,5),(4,5,6)
    assert(nw == 5L, s"n_wedges $nw")
    // only (1,2,3) closes
    assert(nt == 1L, s"n_triangles $nt")
  }

  test("gapFill: empty buckets forward-filled, same-bucket tie by id") {
    import spark.implicits._
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val h = 3600000000L
    // series a: hours 0 and 3 observed — 1 and 2 filled from hour 0;
    // hour 0 has two same-µs events, id order picks id 2 (7.0);
    // null value dropped (hour 3 fills from id 3's 2.0, not the null).
    // series b: single hour — one-row grid, no fill.
    val ev = Seq(
      (1L, "a", 10L, Some(5.0)), (2L, "a", 10L, Some(7.0)),
      (3L, "a", 3 * h + 1, Some(2.0)),
      (4L, "a", 3 * h + 2, None: Option[Double]),
      (5L, "b", h + 1, Some(9.0)))
      .map { case (id, t, us, v) => (id, t, ts(us), v) }
      .toDF("event_id", "event_type", "ts", "value")
    val got = graft.operators.Pipeline.gapFill(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3))).toSeq
    assert(got == Seq(
      ("a", 0L, 7.0, true), ("a", 1L, 7.0, false), ("a", 2L, 7.0, false),
      ("a", 3L, 2.0, true), ("b", 1L, 9.0, true)), got.toString)
  }

  test("interpolateLinear: gap lerped between neighbors, observed kept") {
    import spark.implicits._
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val h = 3600000000L
    // series a: hours 0 (v=1, id 2 wins the same-µs tie over id 1) and
    // 3 (v=4) observed → hours 1, 2 lerp to 2.0, 3.0; an uneven gap
    // (hours 3→5, v 4→9) lerps hour 4 to 6.5 — NOT forward fill.
    // series b: adjacent observed hours — nothing to interpolate.
    val ev = Seq(
      (1L, "a", 10L, Some(5.0)), (2L, "a", 10L, Some(1.0)),
      (3L, "a", 3 * h + 1, Some(4.0)),
      (4L, "a", 5 * h, Some(9.0)),
      (5L, "b", h + 1, Some(2.0)), (6L, "b", 2 * h + 1, Some(3.0)))
      .map { case (id, t, us, v) => (id, t, ts(us), v) }
      .toDF("event_id", "event_type", "ts", "value")
    val got = graft.operators.Pipeline.interpolateLinear(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3))).toSeq
    assert(got == Seq(
      ("a", 0L, 1.0, true), ("a", 1L, 2.0, false), ("a", 2L, 3.0, false),
      ("a", 3L, 4.0, true), ("a", 4L, 6.5, false), ("a", 5L, 9.0, true),
      ("b", 1L, 2.0, true), ("b", 2L, 3.0, true)), got.toString)
  }

  test("eventTransitions: session gap cuts a pair, probabilities " +
      "row-conditional") {
    import spark.implicits._
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val m = 60000000L
    // user 1: A→B (10 min), B→C blocked (gap 40 min ≥ 30), C→D (10 min)
    // user 2: A→A (5 min) — self-transitions count
    val ev = Seq(
      (1L, 1L, "A", 0L), (2L, 1L, "B", 10 * m), (3L, 1L, "C", 50 * m),
      (4L, 1L, "D", 60 * m),
      (5L, 2L, "A", 0L), (6L, 2L, "A", 5 * m))
      .map { case (id, u, t, us) => (id, u, t, ts(us)) }
      .toDF("event_id", "user_id", "event_type", "ts")
    val got = graft.operators.Pipeline.eventTransitions(ev).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == Seq(
      ("A", "A", 1L, 0.5), ("A", "B", 1L, 0.5), ("C", "D", 1L, 1.0)),
      got.toString)
  }

  test("abReadout: planted effect is significant, saturated p guards " +
      "z to null") {
    import spark.implicits._
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    // find user ids the md5 rule routes to each variant, then plant a
    // real effect: 20 A-users convert, 20 B-users don't
    def variantOf(u: Long) = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
      (("%02x".format(md(0))).charAt(0) < '8')
    }
    val as = (1L to 1000L).filter(variantOf).take(20)
    val bs = (1L to 1000L).filterNot(variantOf).take(20)
    val ev = (as.map(u => (u, "purchase")) ++ bs.map(u => (u, "view")))
      .zipWithIndex
      .map { case ((u, t), i) => (i.toLong, u, t, ts(i * 1000000L)) }
      .toDF("event_id", "user_id", "event_type", "ts")
    val r = graft.operators.Pipeline.abReadout(ev).collect().head
    assert(r.getLong(0) == 20 && r.getLong(1) == 20, r.toString) // A all convert
    assert(r.getLong(3) == 20 && r.getLong(4) == 0, r.toString)  // B none
    assert(r.getDouble(2) == 1.0 && r.getDouble(5) == 0.0)
    assert(!r.isNullAt(6) && r.getBoolean(7), s"effect not detected: $r")
    // saturated: everyone converts → p = 1 → se = 0 → z null, not sig
    val sat = (as ++ bs).zipWithIndex
      .map { case (u, i) => (i.toLong, u, "purchase", ts(i * 1000000L)) }
      .toDF("event_id", "user_id", "event_type", "ts")
    val r2 = graft.operators.Pipeline.abReadout(sat).collect().head
    assert(r2.isNullAt(6) && !r2.getBoolean(7), r2.toString)
  }

  test("botSignature: periodic user flags, organic doesn't, mode " +
      "tiebreak to the smaller gap, minGaps excludes") {
    import spark.implicits._
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val sec = 1000000L
    val ev = (
      // user 1: 6 events exactly 10 s apart → 5 gaps, share 1.0, bot
      (0 until 6).map(i => (1L, i * 10 * sec)) ++
      // user 2: gaps 1,2,3,4,5 s → top share 0.2, organic
      Seq(0L, 1L, 3L, 6L, 10L, 15L).map(s => (2L, s * sec)) ++
      // user 3: gaps 7,7,9,9 s → tie on count, mode must pick 7
      Seq(0L, 7L, 14L, 23L, 32L).map(s => (3L, s * sec)) ++
      // user 4: 4 events = 3 gaps → below minGaps, excluded
      (0 until 4).map(i => (4L, i * 60 * sec)))
      .zipWithIndex
      .map { case ((u, us), i) => (i.toLong, u, "click", ts(us)) }
      .toDF("event_id", "user_id", "event_type", "ts")
    val got = graft.operators.Pipeline.botSignature(ev, minGaps = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    assert(got == Seq(
      (1L, 5L, 10L, 1.0, true),
      (2L, 5L, 1L, 0.2, false),
      (3L, 4L, 7L, 0.5, false)), got.toString)
  }

  test("funnelTimeToConvert: discrete quantile ranks, strict anchor " +
      "sequencing") {
    import spark.implicits._
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val m = 60000000L
    // 4 converting users with view→click deltas 10, 20, 30, 40 min →
    // n=4: p50 = rank ceil(2)=2 → 20 min; p90 = rank ceil(3.6)=4 →
    // 40 min. One user clicks BEFORE viewing (strict '>' excludes).
    // click→purchase: only user 1 converts (delta 5 min).
    val ev = Seq(
      (1L, "view", 0L), (1L, "click", 10 * m), (1L, "purchase", 15 * m),
      (2L, "view", 0L), (2L, "click", 20 * m),
      (3L, "view", 0L), (3L, "click", 30 * m),
      (4L, "view", 0L), (4L, "click", 40 * m),
      (5L, "click", 0L), (5L, "view", 10 * m))
      .zipWithIndex.map { case ((u, t, us), i) => (i.toLong, u, t, ts(us)) }
      .toDF("event_id", "user_id", "event_type", "ts")
    val got = graft.operators.Pipeline.funnelTimeToConvert(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(
      ("click>purchase", 1L, 5 * m, 5 * m, 5 * m, 5 * m),
      ("view>click", 4L, 10 * m, 20 * m, 40 * m, 40 * m)),
      got.toString)
  }

  test("funnelTimeToConvert: a step pair with zero conversions emits " +
      "n_users=0 and NULL latencies (no element_at(_, 0) crash)") {
    import spark.implicits._
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val m = 60000000L
    // users view and click but nobody purchases → the click>purchase
    // segment is EMPTY. The oracle's NULL list indexing yields NULL
    // quantiles with COUNT(*)=0; rank selection must mirror that, not
    // throw on ceil(0·p)=0 (Spark arrays are 1-based — ADVICE r9).
    val ev = Seq(
      (1L, "view", 0L), (1L, "click", 10 * m),
      (2L, "view", 0L), (2L, "click", 20 * m))
      .zipWithIndex.map { case ((u, t, us), i) => (i.toLong, u, t, ts(us)) }
      .toDF("event_id", "user_id", "event_type", "ts")
    val got = graft.operators.Pipeline.funnelTimeToConvert(ev).collect()
      .map(r => (r.getString(0), r.getLong(1),
        (2 to 5).map(i => if (r.isNullAt(i)) None
          else Some(r.getLong(i))))).toSeq
    assert(got == Seq(
      ("click>purchase", 0L, Seq(None, None, None, None)),
      ("view>click", 2L,
        Seq(Some(10 * m), Some(10 * m), Some(20 * m), Some(20 * m)))),
      got.toString)
  }

  test("cusumShift: hand-stepped alarm point, stationary series silent") {
    import spark.implicits._
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val h = 3600000000L
    // series a: n=2 for hours 0..9, +3 shift from hour 6 (nb=4, s1=8,
    // k=1 → d = 4n−12): S walks 0,0,8,16,24,32 over hours 4..9 —
    // alarm at hour 8 (first S ≥ threshold·nb = 24), max 32.
    // series b: stationary n=2 → S pinned at 0, no alarm.
    val ev = (for {
      tp <- Seq("a", "b"); hr <- 0 until 10; i <- 0 until 2
    } yield (tp, hr.toLong * h + i)).zipWithIndex
      .map { case ((tp, us), id) => (id.toLong, tp, ts(us)) }
      .toDF("event_id", "event_type", "ts")
      .withColumn("user_id", col("event_id"))
    val got = graft.operators.Pipeline
      .cusumShift(ev, trainHours = 4, k = 1L, threshold = 6L,
        shiftSeries = "a", shiftOffset = 6L, shiftN = 3L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4),
        r.getBoolean(5))).toSeq
    assert(got == Seq(
      ("a", 4L, 8L, 8L, 32L, true),
      ("b", 4L, 8L, -1L, 0L, false)), got.toString)
  }

  test("seasonalAnomaly: daily peak is NOT an anomaly, planted burst is") {
    import spark.implicits._
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val h = 3600000000L
    // 540 grid hours of 'click': hod-0 peaks at 29/31 by day parity,
    // other hours 2/4 — a STATIC baseline would z-flag every serving
    // peak (n≈30 vs global mean ≈3); the seasonal baseline must not,
    // while the 300-event burst at hour mn+500 (hod 20) must flag
    val rows = (0 until 540).flatMap { hr =>
      val parity = (hr / 24) % 2
      val n = if (hr % 24 == 0) 29 + 2 * parity else 2 + 2 * parity
      (0 until n).map(i => (hr.toLong * 1000 + i, ts(hr * h + i)))
    }
    val ev = rows.map { case (id, t) => (id, "click", t) }
      .toDF("event_id", "event_type", "ts")
      .withColumn("user_id", col("event_id"))
    val got = graft.operators.Pipeline.seasonalAnomaly(ev).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(7))).toSeq // (hr, hod, n, is_anomaly)
    assert(got.nonEmpty)
    got.foreach { case (hr, hod, n, flag) =>
      if (hr == 500L) {
        assert(n > 300 && flag, s"burst row (hr=500, n=$n) did not flag")
      } else {
        assert(!flag, s"false positive at hr=$hr hod=$hod n=$n")
        if (hod == 0L) assert(n >= 29, "peak row missing its peak count")
      }
    }
  }

  test("interpolateLinear fuzz vs a driver-side replay") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.propBoolean
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val h = 3600000000L
    val rowGen = for {
      tp <- Gen.oneOf("a", "b")
      us <- Gen.choose(0L, 9 * h) // ~10 buckets, sparse + ties
      v <- Gen.option(Gen.choose(-40, 40).map(_ / 4.0))
    } yield (tp, us, v)
    val caseGen = Gen.choose(1, 25).flatMap(n => Gen.listOfN(n, rowGen))
    val prop = Prop.forAll(caseGen) { rows =>
      val df = rows.zipWithIndex.map { case ((tp, us, v), i) =>
        (i.toLong, tp, ts(us), v) }
        .toDF("event_id", "event_type", "ts", "value")
      val got = graft.operators.Pipeline.interpolateLinear(df).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getBoolean(3))).toSeq
      // driver replay: per-bucket (us, event_id)-max observation, grid
      // over min..max, lerp between nearest observed neighbors
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val want = rows.zipWithIndex
        .collect { case ((tp, us, Some(v)), i) => (tp, us, i.toLong, v) }
        .groupBy { case (tp, us, _, _) => (tp, us / h) }
        .map { case ((tp, hr), g) =>
          (tp, hr) -> g.maxBy { case (_, us, id, _) => (us, id) }._4 }
        .groupBy { case ((tp, _), _) => tp }
        .toSeq.flatMap { case (tp, obs0) =>
          val obs = obs0.map { case ((_, hr), v) => hr -> v }.toMap
          val (mn, mx) = (obs.keys.min, obs.keys.max)
          (mn to mx).map { hr =>
            if (obs.contains(hr)) (tp, hr, r6(obs(hr)), true)
            else {
              val p = obs.keys.filter(_ < hr).max
              val n = obs.keys.filter(_ > hr).min
              val v = obs(p) + (obs(n) - obs(p)) * (hr - p).toDouble /
                (n - p)
              (tp, hr, r6(v), false)
            }
          }
        }.sortBy(t => (t._1, t._2))
      (got == want) :| s"got $got want $want"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, s"interpolation fuzz failed: ${res.status}")
  }

  test("ohlcBars partials merge identically under any row split " +
      "(s34's decomposability claim)") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.propBoolean
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val h = 3600000000L
    val rowGen = for {
      tp <- Gen.oneOf("a", "b")
      us <- Gen.choose(0L, 4 * h) // spans ~5 buckets, same-us ties likely
      v <- Gen.choose(-50, 50).map(_ / 10.0)
    } yield (tp, us, v)
    val caseGen = for {
      n <- Gen.choose(1, 40)
      rows <- Gen.listOfN(n, rowGen)
      splits <- Gen.listOfN(n, Gen.choose(0, 2)) // arbitrary 3-way split
    } yield (rows, splits)
    val prop = Prop.forAll(caseGen) { case (rows, splits) =>
      val df = rows.zipWithIndex.map { case ((tp, us, v), i) =>
        (i.toLong, tp, ts(us), v) }
        .toDF("event_id", "event_type", "ts", "value")
      val want = graft.operators.Pipeline.ohlcBars(df).collect()
        .map(_.toSeq).toSeq
      // per-part partials (the s34 foreachBatch body), merged the same
      // way the s34 report does — must equal the one-shot bars no
      // matter how rows were split
      val parts = rows.zipWithIndex.groupBy { case (_, i) => splits(i) }
        .values.map { grp =>
          grp.map { case ((tp, us, v), i) => (i.toLong, tp, ts(us), v) }
            .toDF("event_id", "event_type", "ts", "value")
            .select(col("event_type"), col("event_id"),
              col("value").as("v"), unix_micros(col("ts")).as("us"))
            .withColumn("hr", expr("us div 3600000000"))
            .groupBy("event_type", "hr")
            .agg(min(struct(col("us"), col("event_id"), col("v")))
                .as("o"),
              max(col("v")).as("hi"), min(col("v")).as("lo"),
              max(struct(col("us"), col("event_id"), col("v")))
                .as("c"),
              count(lit(1)).cast("long").as("n"))
        }.reduce(_ unionAll _)
      val got = parts.groupBy("event_type", "hr")
        .agg(min(col("o")).getField("v").as("open"),
          max(col("hi")).as("high"), min(col("lo")).as("low"),
          max(col("c")).getField("v").as("close"),
          sum(col("n")).cast("long").as("n_events"))
        .orderBy("event_type", "hr").collect().map(_.toSeq).toSeq
      (got == want) :| s"got $got want $want"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, s"ohlc merge property failed: ${res.status}")
  }

  test("s35 carried last-event state replays to the batch transitions " +
      "for any event-time split, including same-us runs on a cut") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.propBoolean
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    // a coarse 10-minute grid: same-us ties are common (the max-struct
    // state pick and the '>'/' <=' cut discipline both get exercised),
    // 1-step gaps (600 s) are in-session, 3+-step gaps are not
    val step = 600000000L
    val caseGen = for {
      n <- Gen.choose(2, 30)
      rows <- Gen.listOfN(n, for {
        u <- Gen.choose(1L, 4L)
        tp <- Gen.oneOf("v", "c", "p")
        slot <- Gen.choose(0L, 19L)
      } yield (u, tp, slot * step))
      // cut VALUES land exactly on us slots — us == cut stays in the
      // earlier batch, so a same-us run never straddles
      cuts <- Gen.listOfN(3, Gen.choose(0L, 19L).map(_ * step))
    } yield (rows, cuts.sorted)
    val prop = Prop.forAll(caseGen) { case (rows, cuts) =>
      val df = rows.zipWithIndex.map { case ((u, tp, us), i) =>
        (i.toLong, u, tp, ts(us)) }
        .toDF("event_id", "user_id", "event_type", "ts")
      val want = graft.operators.Pipeline.eventTransitions(df)
        .collect().map(_.toSeq).toSeq
      // replay the s35 foreachBatch body: per batch, count lead()
      // pairs over carried-last ∪ batch, then advance the state to the
      // per-user struct-max event
      val evAll = df.select(col("user_id"), col("event_type"),
        col("event_id"), unix_micros(col("ts")).as("us"))
      val bounds = (Long.MinValue +: cuts) :+ Long.MaxValue
      var state = Seq.empty[(Long, Long, Long, String)]
        .toDF("user_id", "us", "event_id", "event_type")
      var counts = Seq.empty[(String, String, Long)]
        .toDF("from_type", "to_type", "n")
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      for (b <- 1 until bounds.length) {
        val batch = evAll.filter(col("us") > bounds(b - 1) &&
          col("us") <= bounds(b))
        val uni = state.unionByName(
          batch.select("user_id", "us", "event_id", "event_type"))
        counts = counts.unionByName(
          uni.withColumn("tt", lead(col("event_type"), 1).over(w))
            .withColumn("gap", lead(col("us"), 1).over(w) - col("us"))
            .filter(col("tt").isNotNull && col("gap") < 1800000000L)
            .groupBy(col("event_type").as("from_type"),
              col("tt").as("to_type"))
            .agg(count(lit(1)).cast("long").as("n")))
        state = uni.groupBy("user_id")
          .agg(max(struct(col("us"), col("event_id"),
            col("event_type"))).as("m"))
          .select(col("user_id"), col("m.us").as("us"),
            col("m.event_id").as("event_id"),
            col("m.event_type").as("event_type"))
      }
      val got = counts.groupBy("from_type", "to_type")
        .agg(sum(col("n")).cast("long").as("n"))
        .withColumn("p", round(col("n") /
          sum(col("n")).over(Window.partitionBy("from_type")), 6))
        .orderBy("from_type", "to_type")
        .collect().map(_.toSeq).toSeq
      (got == want) :| s"cuts=$cuts got $got want $want"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, s"s35 merge property failed: ${res.status}")
  }

  test("s37 partial-count grids merge to the batch CUSUM report under " +
      "any row split") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.propBoolean
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val h = 3600000000L
    val caseGen = for {
      n <- Gen.choose(4, 40)
      rows <- Gen.listOfN(n, for {
        tp <- Gen.oneOf("a", "b")
        hr <- Gen.choose(0L, 9L)
        off <- Gen.choose(0L, h - 1)
      } yield (tp, hr * h + off))
      splits <- Gen.listOfN(n, Gen.choose(0, 2))
    } yield (rows, splits)
    val prop = Prop.forAll(caseGen) { case (rows, splits) =>
      val df = rows.zipWithIndex.map { case ((tp, us), i) =>
        (i.toLong, tp, ts(us)) }
        .toDF("event_id", "event_type", "ts")
        .withColumn("user_id", col("event_id"))
      val want = graft.operators.Pipeline.cusumShift(df, trainHours = 4,
        k = 1L, threshold = 6L, shiftSeries = "a", shiftOffset = 6L,
        shiftN = 3L).collect().map(_.toSeq).toSeq
      // per-part (series, hr) counts — the s37 foreachBatch body —
      // appended then merged, feeding the SAME cusumFromCounts stage
      val parts = rows.zipWithIndex.groupBy { case (_, i) => splits(i) }
        .values.map { grp =>
          grp.map { case ((tp, us), i) => (i.toLong, tp, ts(us)) }
            .toDF("event_id", "event_type", "ts")
            .select(col("event_type").as("series"),
              expr(s"unix_micros(ts) div $h").as("hr"))
            .groupBy("series", "hr")
            .agg(count(lit(1)).cast("long").as("n"))
        }.reduce(_ unionAll _)
      val merged = parts.groupBy("series", "hr")
        .agg(sum(col("n")).cast("long").as("n0"))
      val got = graft.operators.Pipeline.cusumFromCounts(merged,
        trainHours = 4, k = 1L, threshold = 6L, shiftSeries = "a",
        shiftOffset = 6L, shiftN = 3L).collect().map(_.toSeq).toSeq
      (got == want) :| s"got $got want $want"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, s"s37 merge property failed: ${res.status}")
  }

  test("p160 fold equals a driver-side step-by-step CUSUM replay over " +
      "random grids") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.propBoolean
    val (trainH, k, thr, shiftS, shiftOff, shiftN) =
      (3, 1L, 4L, "a", 5L, 2L)
    val caseGen = for {
      nA <- Gen.choose(1, 12)
      nB <- Gen.choose(0, 12)
      counts <- Gen.sequence[List[(String, Long, Long)], (String, Long, Long)](
        (0 until nA).map(_ => for {
          hr <- Gen.choose(0L, 11L); n <- Gen.choose(0L, 6L)
        } yield ("a", hr, n)) ++
        (0 until nB).map(_ => for {
          hr <- Gen.choose(0L, 11L); n <- Gen.choose(0L, 6L)
        } yield ("b", hr, n)))
    } yield counts.groupBy(c => (c._1, c._2))
      .map { case ((s, hr), rs) => (s, hr, rs.map(_._3).sum) }.toList
    val prop = Prop.forAll(caseGen) { counts =>
      val df = counts.toDF("series", "hr", "n0")
      val got = graft.operators.Pipeline.cusumFromCounts(df, trainH, k,
        thr, shiftS, shiftOff, shiftN).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getLong(4),
          r.getBoolean(5))).toSeq
      // step-by-step replay of the integer recurrence on the driver —
      // different mechanism (a mutable loop) than the aggregate() fold
      val want = counts.groupBy(_._1).toSeq.sortBy(_._1)
        .flatMap { case (series, rs) =>
          val byHr = rs.map(c => c._2 -> c._3).toMap
          val (mn, mx) = (byHr.keys.min, byHr.keys.max)
          def n(hr: Long) = byHr.getOrElse(hr, 0L) +
            (if (series == shiftS && hr >= mn + shiftOff) shiftN else 0L)
          val trainHrs = (mn to mx).filter(_ < mn + trainH)
          val servHrs = (mn to mx).filter(_ >= mn + trainH)
          if (servHrs.isEmpty) None
          else {
            val nb = trainHrs.size.toLong
            val s1 = trainHrs.map(n).sum
            var s = 0L; var smax = 0L; var alarm = Option.empty[Long]
            for (hr <- servHrs) {
              s = math.max(0L, s + n(hr) * nb - s1 - k * nb)
              smax = math.max(smax, s)
              if (alarm.isEmpty && s >= thr * nb) alarm = Some(hr)
            }
            Some((series, nb, s1, alarm, smax, alarm.nonEmpty))
          }
        }
      (got == want) :| s"counts=$counts got $got want $want"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, s"p160 replay property failed: ${res.status}")
  }

  test("p162 mode share equals a brute-force (count DESC, gap ASC) " +
      "tiebreak on the driver") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.propBoolean
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val caseGen = for {
      n <- Gen.choose(4, 40)
      rows <- Gen.listOfN(n, for {
        u <- Gen.choose(1L, 4L)
        // sub-second jitter makes distinct gaps share a second bucket,
        // exercising the div-1e6 collapse AND the tiebreak; ms-aligned
        // so the java.sql.Timestamp round-trip is exact and the driver
        // replay sees the same instants Spark does
        slot <- Gen.choose(0L, 9L); jit <- Gen.choose(0L, 999L)
      } yield (u, slot * 3000000L + jit * 1000L))
    } yield rows
    val prop = Prop.forAll(caseGen) { rows =>
      val df = rows.zipWithIndex.map { case ((u, us), i) =>
        (i.toLong, u, ts(us), us) }
        .toDF("event_id", "user_id", "ts", "us0")
      val got = graft.operators.Pipeline.botSignature(df, minGaps = 2,
        shareThresh = 0.5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getBoolean(4))).toSeq
      val want = rows.zipWithIndex.groupBy(_._1._1).toSeq.sortBy(_._1)
        .flatMap { case (u, evs) =>
          val ordered = evs.map { case ((_, us), i) => (us, i.toLong) }
            .sortBy(identity)
          val gaps = ordered.zip(ordered.tail)
            .map { case ((a, _), (b, _)) => (b - a) / 1000000L }
          if (gaps.size < 2) None
          else {
            val byGap = gaps.groupBy(identity)
              .map { case (g, gs) => (g, gs.size.toLong) }
            val (topGap, topCnt) = byGap.toSeq
              .sortBy { case (g, c) => (-c, g) }.head
            val share = topCnt.toDouble / gaps.size
            Some((u, gaps.size.toLong, topGap,
              BigDecimal(share).setScale(6,
                BigDecimal.RoundingMode.HALF_UP).toDouble,
              share >= 0.5))
          }
        }
      (got == want) :| s"rows=$rows got $got want $want"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, s"p162 tiebreak property failed: ${res.status}")
  }

  test("p156 last-touch equals a per-user sequential scan on the driver") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.propBoolean
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val gapUs = 30 * 60L * 1000000L
    val step = 10 * 60L * 1000000L // 10-min slots: in/out of the gap
    val caseGen = for {
      n <- Gen.choose(2, 40)
      rows <- Gen.listOfN(n, for {
        u <- Gen.choose(1L, 4L)
        tp <- Gen.oneOf("ad", "email", "social", "purchase")
        slot <- Gen.choose(0L, 9L)
      } yield (u, tp, slot * step))
    } yield rows
    val prop = Prop.forAll(caseGen) { rows =>
      val df = rows.zipWithIndex.map { case ((u, tp, us), i) =>
        (i.toLong, u, tp, ts(us)) }
        .toDF("event_id", "user_id", "event_type", "ts")
      val got = graft.operators.Pipeline.lastTouchAttribution(df)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      // sequential scan: walk each user's (us, event_id) order keeping
      // the last non-conversion touch; attribute each purchase to it
      // iff within the gap, else "(none)"
      val channels = rows.zipWithIndex.groupBy(_._1._1).toSeq
        .flatMap { case (_, evs) =>
          val ordered = evs.map { case ((_, tp, us), i) =>
            (us, i.toLong, tp) }.sortBy(e => (e._1, e._2))
          var lastTouch = Option.empty[(Long, String)]
          val out = scala.collection.mutable.ArrayBuffer[String]()
          for ((us, _, tp) <- ordered) {
            if (tp == "purchase") {
              out += lastTouch.collect {
                case (tus, ttp) if us - tus < gapUs => ttp
              }.getOrElse("(none)")
            } else lastTouch = Some((us, tp))
          }
          out
        }
      val total = channels.size.toLong
      val want = channels.groupBy(identity).toSeq.sortBy(_._1)
        .map { case (ch, cs) => (ch, cs.size.toLong,
          BigDecimal(cs.size.toDouble / total).setScale(6,
            BigDecimal.RoundingMode.HALF_UP).toDouble) }
      (got == want) :| s"rows=$rows got $got want $want"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, s"p156 scan property failed: ${res.status}")
  }

  test("p164 chi-square equals a driver replay: same md5 arms, integer " +
      "guards, fixed-association float sum") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.propBoolean
    val k = 3; val minConv = 2; val minExp = 5L; val crit = 5.991
    def variantOf(u: Long): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
      ((d(0) >>> 4) & 0xF) % k
    }
    val caseGen = for {
      n <- Gen.choose(2, 120)
      rows <- Gen.listOfN(n, for {
        u <- Gen.choose(0L, 60L)
        tp <- Gen.frequency(3 -> Gen.const("purchase"),
          2 -> Gen.const("view"))
      } yield (u, tp))
    } yield rows
    val prop = Prop.forAll(caseGen) { rows =>
      val df = rows.toDF("user_id", "event_type")
      val got = graft.operators.Pipeline.chiSquareReadout(df,
        k = k, minConv = minConv, minExpected = minExp)
        .collect().map(_.toSeq).toSeq
      val byUser = rows.groupBy(_._1).toSeq.map { case (u, es) =>
        (variantOf(u),
          if (es.count(_._2 == "purchase") >= minConv) 1L else 0L) }
      val n = (0 until k).map(i => byUser.count(_._1 == i).toLong)
      val c = (0 until k)
        .map(i => byUser.filter(_._1 == i).map(_._2).sum)
      val tn = n.sum; val tc = c.sum
      val ok = (0 until k).forall(i =>
        n(i) * tc >= minExp * tn && n(i) * (tn - tc) >= minExp * tn) &&
        tn > 0
      val (tnD, tcD) = (tn.toDouble, tc.toDouble)
      val chi = (0 until k).map { i =>
        val ni = n(i).toDouble; val ci = c(i).toDouble
        val e1 = ni * tcD / tnD; val e0 = ni * (tnD - tcD) / tnD
        (ci - e1) * (ci - e1) / e1 +
          ((ni - ci) - e0) * ((ni - ci) - e0) / e0
      }.reduce(_ + _)
      def r6(x: Double): Double = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val chi2 = if (ok) Some(r6(chi)) else None
      val want = Seq((0 until k).flatMap(i => Seq[Any](n(i), c(i),
        if (n(i) > 0) r6(c(i).toDouble / n(i)) else null)) ++
        Seq[Any](if (ok) r6(chi) else null, k - 1,
          chi2.exists(_ >= crit), !ok))
      (got == want) :| s"rows=$rows got $got want $want"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, s"p164 replay property failed: ${res.status}")
  }

  test("s38 per-user partial conversion counts merge to the batch " +
      "chi-square readout under any row split") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.propBoolean
    val caseGen = for {
      n <- Gen.choose(4, 60)
      rows <- Gen.listOfN(n, for {
        u <- Gen.choose(0L, 30L)
        tp <- Gen.frequency(2 -> Gen.const("purchase"),
          1 -> Gen.const("view"))
      } yield (u, tp))
      splits <- Gen.listOfN(n, Gen.choose(0, 2))
    } yield (rows, splits)
    val prop = Prop.forAll(caseGen) { case (rows, splits) =>
      val df = rows.toDF("user_id", "event_type")
      val want = graft.operators.Pipeline.chiSquareReadout(df,
        k = 3, minConv = 2).collect().map(_.toSeq).toSeq
      // the s38 foreachBatch body per part, appended then merged
      val parts = rows.zipWithIndex.groupBy { case (_, i) => splits(i) }
        .values.map { grp =>
          grp.map(_._1).toDF("user_id", "event_type")
            .groupBy("user_id")
            .agg(sum(when(col("event_type") === "purchase", 1L)
              .otherwise(0L)).as("nc"))
        }.reduce(_ unionAll _)
      val flags = parts.groupBy("user_id")
        .agg(when(sum(col("nc")) >= 2, 1L).otherwise(0L).as("conv"))
      val got = graft.operators.Pipeline.chiSquareFromConv(flags,
        k = 3, minExpected = 5L, crit = 5.991)
        .collect().map(_.toSeq).toSeq
      (got == want) :| s"got $got want $want"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, s"s38 merge property failed: ${res.status}")
  }

  test("p165 CUPED equals a driver replay: exact moment sums, fixed " +
      "double expression tree") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.propBoolean
    def armA(u: Long): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
      ((d(0) >>> 4) & 0xF) < 8
    }
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val caseGen = for {
      n <- Gen.choose(2, 80)
      rows <- Gen.listOfN(n, for {
        u <- Gen.choose(0L, 25L)
        tp <- Gen.frequency(2 -> Gen.const("purchase"),
          2 -> Gen.const("view"), 1 -> Gen.const("click"))
      } yield (u, tp))
    } yield rows
    val prop = Prop.forAll(caseGen) { rows =>
      val df = rows.toDF("user_id", "event_type")
      val got = graft.operators.Pipeline.cupedReadout(df, minConv = 2)
        .collect().map(_.toSeq).toSeq
      val users = rows.groupBy(_._1).toSeq.map { case (u, es) =>
        (armA(u),
          if (es.count(_._2 == "purchase") >= 2) 1L else 0L,
          es.count(_._2 == "view").toLong) }
      def sums(a: Boolean) = {
        val g = users.filter(_._1 == a)
        (g.size.toLong, g.map(_._2).sum, g.map(_._3).sum,
          g.map(e => e._3 * e._3).sum, g.map(e => e._3 * e._2).sum)
      }
      val (na, sya, sxa, sxxa, sxya) = sums(true)
      val (nb, syb, sxb, sxxb, sxyb) = sums(false)
      val (naD, nbD) = (na.toDouble, nb.toDouble)
      val nD = (na + nb).toDouble
      val sxD = (sxa + sxb).toDouble; val syD = (sya + syb).toDouble
      val sxxD = (sxxa + sxxb).toDouble
      val sxyD = (sxya + sxyb).toDouble
      val varX = nD * sxxD - sxD * sxD
      val covXY = nD * sxyD - sxD * syD
      val varY = nD * syD - syD * syD
      val ok = na > 0 && nb > 0 && varX > 0 && varY > 0
      val theta = if (ok) Some(covXY / varX) else None
      val varD = theta.map(th => varY - th * covXY)
      val adjDiff = theta.map(th => (sya.toDouble / naD -
        syb.toDouble / nbD) - th * (sxa.toDouble / naD -
        sxb.toDouble / nbD))
      val se = varD.filter(_ > 0).map(vd =>
        math.sqrt(vd / (nD * nD) * (1.0 / naD + 1.0 / nbD)))
      val z = se.filter(_ > 0).flatMap(s => adjDiff.map(_ / s))
      // ungrouped SUM over zero rows is NULL in Spark AND DuckDB — an
      // empty corpus (ScalaCheck shrinking reaches it) yields a
      // NULL-counter guarded row, not zeros
      val want = if (users.isEmpty)
        Seq(Seq[Any](null, null, null, null, null, null, null, null,
          false, true))
      else Seq(Seq[Any](na, nb,
        if (na > 0) r6(sya.toDouble / naD) else null,
        if (nb > 0) r6(syb.toDouble / nbD) else null,
        theta.map(r6).getOrElse(null),
        adjDiff.map(r6).getOrElse(null),
        (if (ok) varD.map(vd => r6(1.0 - vd / varY)) else None)
          .getOrElse(null),
        z.map(r6).getOrElse(null),
        z.exists(v => math.abs(v) >= 1.96),
        !se.exists(_ > 0)))
      (got == want) :| s"rows=$rows got $got want $want"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, s"p165 replay property failed: ${res.status}")
  }

  test("p167 sequential monitor equals a driver replay: week cuts, " +
      "per-look counters, OBF crossings") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.propBoolean
    val wkUs = 604800000000L
    def armA(u: Long): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
      ((d(0) >>> 4) & 0xF) < 8
    }
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val bnds = Seq(4.049, 2.863, 2.337, 2.024)
    val caseGen = for {
      n <- Gen.choose(2, 80)
      rows <- Gen.listOfN(n, for {
        u <- Gen.choose(0L, 20L)
        tp <- Gen.frequency(2 -> Gen.const("purchase"),
          1 -> Gen.const("view"))
        wk <- Gen.choose(0L, 7L)
        off <- Gen.choose(0L, 604799999L) // ms within the week
      } yield (u, tp, wk * wkUs + off * 1000L))
    } yield rows
    val prop = Prop.forAll(caseGen) { rows =>
      val df = rows.zipWithIndex.map { case ((u, tp, us), i) =>
        (i.toLong, u, tp, ts(us)) }
        .toDF("event_id", "user_id", "event_type", "ts")
      val got = graft.operators.Pipeline.sequentialReadout(df,
        minConv = 2).collect().map(_.toSeq).toSeq
      // driver replay with the same integer cuts and double forms
      val evs = rows.map { case (u, tp, us) => (u, tp, us / wkUs) }
      val (mn, mx) = (evs.map(_._3).min, evs.map(_._3).max)
      def cut(k: Int) = mn + ((mx - mn + 1) * k + 3) / 4 - 1
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val byUser = evs.groupBy(_._1).toSeq.map { case (u, es) =>
        (armA(u), es.map(_._3).min,
          (1 to 4).map(k => es.count(e =>
            e._2 == "purchase" && e._3 <= cut(k)))) }
      val looks = (1 to 4).map { k =>
        val in = byUser.filter(_._2 <= cut(k))
        val na = in.count(_._1).toLong
        val nb = in.count(!_._1).toLong
        val ca = in.count(e => e._1 && e._3(k - 1) >= 2).toLong
        val cb = in.count(e => !e._1 && e._3(k - 1) >= 2).toLong
        val ra = if (na > 0) Some(ca.toDouble / na) else None
        val rb = if (nb > 0) Some(cb.toDouble / nb) else None
        val p = (ca + cb).toDouble / (na + nb)
        val se = if (na > 0 && nb > 0)
          Some(math.sqrt(p * (1.0 - p) * (1.0 / na + 1.0 / nb)))
        else None
        val z = se.filter(_ > 0).flatMap(s =>
          for (a <- ra; b <- rb) yield (a - b) / s)
        val crossed = z.exists(v => math.abs(v) >= bnds(k - 1))
        (k, cut(k), na, ca, nb, cb, z.map(r6), bnds(k - 1), crossed)
      }
      val want = looks.map { case (k, c, na, ca, nb, cb, z, b, cr) =>
        Seq[Any](k, c, na, ca, nb, cb, z.getOrElse(null), b, cr,
          cr && looks.take(k - 1).forall(!_._9)) }
      (got == want) :| s"rows=$rows got $got want $want"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, s"p167 replay property failed: ${res.status}")
  }

  test("s39 carried (first_week, purchases) state replays to the batch " +
      "sequential monitor for any event distribution") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.Prop.propBoolean
    val wkUs = 604800000000L
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val caseGen = for {
      n <- Gen.choose(4, 60)
      rows <- Gen.listOfN(n, for {
        u <- Gen.choose(0L, 15L)
        tp <- Gen.frequency(2 -> Gen.const("purchase"),
          1 -> Gen.const("view"))
        wk <- Gen.choose(0L, 7L)
      } yield (u, tp, wk * wkUs + u * 1000L))
    } yield rows
    val prop = Prop.forAll(caseGen) { rows =>
      (rows.nonEmpty) ==> {
        val df = rows.zipWithIndex.map { case ((u, tp, us), i) =>
          (i.toLong, u, tp, ts(us)) }
          .toDF("event_id", "user_id", "event_type", "ts")
        val want = graft.operators.Pipeline.sequentialReadout(df,
          minConv = 2).collect()
          .map(r => (r.getInt(0), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5))).toSeq
        // replay the s39 foreachBatch body: per-cut batches, carried
        // (fw, np) state merged by (min, sum), counters off the state
        val evs = rows.map { case (u, tp, us) => (u, tp, us / wkUs) }
        val (mn, mx) = (evs.map(_._3).min, evs.map(_._3).max)
        val cuts = (1 to 4).map(k => mn + ((mx - mn + 1) * k + 3) / 4 - 1)
        val lows = Long.MinValue +: cuts.init
        var state = Map.empty[Long, (Long, Long)] // user -> (fw, np)
        def armA(u: Long): Boolean = {
          val d = java.security.MessageDigest.getInstance("MD5")
            .digest(u.toString.getBytes("UTF-8"))
          ((d(0) >>> 4) & 0xF) < 8
        }
        val got = (1 to 4).map { k =>
          val batch = evs.filter(e =>
            e._3 > lows(k - 1) && e._3 <= cuts(k - 1))
          for ((u, es) <- batch.groupBy(_._1)) {
            val bf = es.map(_._3).min
            val bp = es.count(_._2 == "purchase").toLong
            val (f0, p0) = state.getOrElse(u, (Long.MaxValue, 0L))
            state += u -> (math.min(f0, bf), p0 + bp)
          }
          val na = state.count(e => armA(e._1)).toLong
          val ca = state.count(e => armA(e._1) && e._2._2 >= 2).toLong
          val nb = state.count(e => !armA(e._1)).toLong
          val cb = state.count(e => !armA(e._1) && e._2._2 >= 2).toLong
          (k, na, ca, nb, cb)
        }
        (got == want) :| s"rows=$rows got $got want $want"
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, s"s39 merge property failed: ${res.status}")
  }

  test("mixtureWeights: shares, guarded weights, recipe-missing and " +
      "zero-token sources") {
    import spark.implicits._
    // a: 6 tokens, b: 2, c: 2 (missing from recipe), d: empty text
    val df = Seq(
      ("a", "one two three"), ("a", "four five six"),
      ("b", "seven eight"), ("c", "nine ten"), ("d", "")
    ).toDF("source", "text")
    val got = Corpus.mixtureWeights(df,
      Map("a" -> 0.5, "b" -> 0.5, "d" -> 0.0)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)),
        r.getBoolean(6))).toSeq
    // total 10 tokens: a 0.6 natural vs 0.5 target → downsample 0.8333;
    // b 0.2 vs 0.5 → upsample 2.5; c not in recipe → weight 0; d has
    // no tokens → NULL weight, never "upsampled"
    assert(got == Seq(
      ("a", 2L, 6L, 0.6, 0.5, Some(0.833333), false),
      ("b", 1L, 2L, 0.2, 0.5, Some(2.5), true),
      ("c", 1L, 2L, 0.2, 0.0, Some(0.0), false),
      ("d", 1L, 0L, 0.0, 0.0, None, false)), got.toString)
  }

  test("stratifiedSample: largest-remainder allocation, md5 draw " +
      "order, under-fill cap") {
    import spark.implicits._
    // strata: a=5 docs, b=3, c=2; budget 4 → bases (2,1,0), one
    // leftover to the largest remainder (c: 8 > b: 2 > a: 0)
    val df = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq.fill(2)("c"))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "source")
    val got = Corpus.stratifiedSample(df, budget = 4)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).toSeq
    assert(got.map(_._1).groupBy(identity).view.mapValues(_.size).toMap ==
      Map("a" -> 2, "b" -> 1, "c" -> 1), got.toString)
    assert(got.forall { case (s, _, rk, na) =>
      rk <= na && (s != "a" || na == 2) && (s != "b" || na == 1) &&
        (s != "c" || na == 1) }, got.toString)
    // the draw must be the md5-smallest members per stratum
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(
        s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val wantA = (0L to 4L).sortBy(i => (md5hex(s"strat:$i"), i)).take(2)
    assert(got.filter(_._1 == "a").map(_._2).toSet == wantA.toSet,
      got.toString)
    // budget beyond the corpus: every stratum caps at its size and the
    // sample under-fills to the full corpus, never borrowing
    val all = Corpus.stratifiedSample(df, budget = 25).collect()
    assert(all.length == 10, s"expected full corpus, got ${all.length}")
  }

  test("chiSquareReadout rejects bad k and missing critical values") {
    import spark.implicits._
    val df = Seq((1L, "purchase")).toDF("user_id", "event_type")
    intercept[IllegalArgumentException] {
      graft.operators.Pipeline.chiSquareReadout(df, k = 1)
    }
    intercept[IllegalArgumentException] {
      graft.operators.Pipeline.chiSquareReadout(df, k = 9)
    }
    // but an explicit critical value unlocks any k in range
    val r = graft.operators.Pipeline.chiSquareReadout(df, k = 9,
      critOverride = Some(15.507)).collect()
    assert(r.length == 1 && r(0).getBoolean(r(0).length - 1),
      "1-user table must be guarded")
  }

  test("chiSquareReadout on EMPTY input: guarded=true, significant=" +
      "false, zero counts (not NULLs)") {
    // ADVICE r10: ungrouped SUM over zero rows is NULL in Spark — the
    // readout must coalesce so the guard contract holds on empty input
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("user_id", "event_type")
    val r = graft.operators.Pipeline.chiSquareReadout(empty).collect()
    assert(r.length == 1)
    val row = r(0)
    assert(row.getAs[Boolean]("guarded"), "empty input must be guarded")
    assert(!row.getAs[Boolean]("significant"))
    assert(row.isNullAt(row.fieldIndex("chi2")))
    (0 until 3).foreach { i =>
      assert(row.getAs[Long](s"n_$i") == 0L &&
        row.getAs[Long](s"conv_$i") == 0L,
        s"variant $i counts must coalesce to 0")
    }
  }

  test("topEventPaths: both gaps must be in-session, counts merge " +
      "across users") {
    import spark.implicits._
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val m = 60000000L
    // user 1: A,B,C,D — (A,B,C) qualifies; (B,C,D) has a 40-min second
    // gap → dropped. user 2: A,B,C qualifies → A>B>C counted twice.
    val ev = Seq(
      (1L, 1L, "A", 0L), (2L, 1L, "B", 10 * m), (3L, 1L, "C", 20 * m),
      (4L, 1L, "D", 60 * m),
      (5L, 2L, "A", 0L), (6L, 2L, "B", 10 * m), (7L, 2L, "C", 15 * m))
      .map { case (id, u, t, us) => (id, u, t, ts(us)) }
      .toDF("event_id", "user_id", "event_type", "ts")
    val got = graft.operators.Pipeline.topEventPaths(ev).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("A>B>C", 2L)), got.toString)
  }

  test("lastTouchAttribution: in-gap credit, stale touch and no touch " +
      "to (none)") {
    import spark.implicits._
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val m = 60000000L
    // user 1: view@0 → purchase@10m (credit view) and purchase@20m
    // (the view is still the last non-purchase, 20m < 30m → view);
    // click@100m then purchase@160m: gap 60m ≥ 30m → (none)
    // user 2: purchase with no preceding touch → (none)
    val ev = Seq(
      (1L, 1L, "view", 0L), (2L, 1L, "purchase", 10 * m),
      (3L, 1L, "purchase", 20 * m),
      (4L, 1L, "click", 100 * m), (5L, 1L, "purchase", 160 * m),
      (6L, 2L, "purchase", 0L))
      .map { case (id, u, t, us) => (id, u, t, ts(us)) }
      .toDF("event_id", "user_id", "event_type", "ts")
    val got = graft.operators.Pipeline.lastTouchAttribution(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq(("(none)", 2L, 0.5), ("view", 2L, 0.5)),
      got.toString)
  }

  test("skewReport: hand-computed shares, skew ratio, ceil-div salt") {
    import spark.implicits._
    // a×5, b×3, c×1, d×1 → rows 10, keys 4, max 5;
    // skew = 5·4/10 = 2.0; salt = ceil(20/10) = 2
    val df = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c", "d"))
      .toDF("k")
    val got = graft.operators.Pipeline.skewReport(df, "k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getLong(6))).toSeq
    assert(got == Seq(
      ("a", 5L, 0.5, 10L, 4L, 2.0, 2L),
      ("b", 3L, 0.3, 10L, 4L, 2.0, 2L),
      ("c", 1L, 0.1, 10L, 4L, 2.0, 2L),
      ("d", 1L, 0.1, 10L, 4L, 2.0, 2L)), got.toString)
    // topK truncates on the deterministic (cnt DESC, key) boundary
    val top2 = graft.operators.Pipeline.skewReport(df, "k", topK = 3)
      .collect().map(_.getString(0)).toSeq
    assert(top2 == Seq("a", "b", "c"), top2.toString)
  }

  test("gridNeighborPairs: cross-cell pair found once, boundary included") {
    import spark.implicits._
    // r=2: (1,2) same cell d=1; (1,3) ADJACENT cells d=2 exactly (the
    // <= boundary, and replication must yield it once, not 9 times);
    // (1,4) neighborhood candidate but d=2.5 > r — distance-filtered;
    // (3,4) candidate at d²=4.25 — just over the boundary, filtered;
    // (5) far apart — never a candidate.
    val pts = Seq(
      (1L, 1.0, 1.0), (2L, 1.0, 2.0), (3L, 3.0, 1.0),
      (4L, 2.5, 3.0), (5L, 50.0, 50.0))
      .toDF("id", "x", "y")
    val got = graft.operators.Pipeline.gridNeighborPairs(pts, r = 2.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    val want = Seq((1L, 2L, 1.0), (1L, 3L, 2.0), (2L, 4L, 1.802776))
    assert(got == want, s"got $got want $want")
  }

  test("rollingAnomaly: plant flags, warmup and flat baselines do not") {
    import spark.implicits._
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    val h = 3600000000L
    // 40 hourly events alternating 1/2 per hour (sd > 0), then nothing:
    // plant a burst at hour mn+20 via burstOffset — it must flag; the
    // first minPrev hours must stay null-z/false even where sd > 0.
    val base = (0L until 40L).flatMap { k =>
      val reps = if (k % 2 == 0) 1 else 2
      (0 until reps).map(j => (k * 10 + j + 1, "a", k * h + 5))
    }
    val ev = base.map { case (id, t, us) => (id, t, ts(us)) }
      .toDF("event_id", "event_type", "ts")
    val got = graft.operators.Pipeline
      .rollingAnomaly(ev, burstSeries = "a", burstOffset = 20L,
        burstN = 300L)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2),
        Option(if (r.isNullAt(5)) null else r.getDouble(5)),
        r.getBoolean(6))).toList
    val byHr = got.map(t => t._1 -> t).toMap
    // burst hour: n = 301 or 302, z huge, flagged
    assert(byHr(20L)._2 >= 301L && byHr(20L)._4, byHr(20L).toString)
    // warmup: hours 0..11 have < 12 preceding buckets → z null, no flag
    (0L to 11L).foreach(k =>
      assert(byHr(k)._3.isEmpty && !byHr(k)._4, byHr(k).toString))
    // steady alternation after warmup: |z| < 3, unflagged
    assert(!byHr(15L)._4 && byHr(15L)._3.nonEmpty, byHr(15L).toString)
    // the only flagged rows are the burst itself
    val flagged = got.filter(_._4).map(_._1)
    assert(flagged == List(20L), flagged.toString)
  }

  test("sortedNeighborhoodPairs: window semantics, prefix blocking") {
    import spark.implicits._
    // sort order by 32-char prefix then id = 1,2,3,4,5,6,7. With w=2:
    //  - (1,2) k=1 window pair, J=3/4: found;
    //  - (1,3) k=2 window pair, identical token SET under different
    //    ORDER (J=1.0 despite different prefix): found via the window,
    //    not the key — the sorted-neighborhood selling point;
    //  - id 4 is window-adjacent to 2,3,5,6 but token-disjoint:
    //    candidates all rejected by the verify;
    //  - (6,7) identical text, J=1.0: found.
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta gamma delta"),
      (3L, "gamma beta alpha"),
      (4L, "mmm nnn ooo"),
      (5L, "ppp qqq rrr"),
      (6L, "zzz yyy xxx"),
      (7L, "zzz yyy xxx"))
      .toDF("doc_id", "text")
    val got = Fuzzy.sortedNeighborhoodPairs(docs, "doc_id", "text",
        keyLen = 32, w = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(got.contains((1L, 2L, 0.75)), got.toString)
    assert(got.contains((6L, 7L, 1.0)), got.toString)
    assert(got.contains((1L, 3L, 1.0)), got.toString)
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L), got.toString)
    assert(!got.exists(p => p._1 == 5L && p._2 == 6L), got.toString)
  }

  test("sortedNeighborhoodPairs: boundary pairs survive any partitioning") {
    import spark.implicits._
    // the cross-partition stitch claim of withGlobalOrder: a duplicate
    // pair adjacent in the GLOBAL order must be found no matter how
    // many range partitions the corpus is spread over
    val docs = (0L until 200L).map { i =>
      (i, f"doc$i%03d common filler tokens here")
    } ++ Seq((900L, "doc150 common filler tokens here extra"))
    val df = docs.toDF("doc_id", "text").repartition(16)
    val got = Fuzzy.sortedNeighborhoodPairs(df, "doc_id", "text",
        keyLen = 8, w = 1, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // 900's text sorts right after doc 150's (same 8-char prefix
    // "doc150 c", higher id) → w=1 must pair them
    assert(got.contains((150L, 900L)), got.toString)
  }

  test("gridNeighborPairs == naive all-pairs on random lattices (ScalaCheck)") {
    // the cell join's once-and-only-once claim under adversarial
    // geometry: points ON cell boundaries, exact-r distances (lattice
    // coordinates make d² hit r² exactly), coincident points (d=0),
    // and r values that do/don't divide the lattice step. Reference is
    // driver-side IEEE arithmetic — bit-identical ops to codegen.
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val caseGen = for {
      n <- Gen.choose(0, 40)
      pts <- Gen.listOfN(n, for {
        x <- Gen.choose(0, 24)
        y <- Gen.choose(0, 24)
      } yield (x / 4.0, y / 4.0))
      r <- Gen.oneOf(1.0, 1.5, 2.5)
    } yield (pts.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }, r)
    def round6(d: Double): Double =
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var checked = 0
    val prop = Prop.forAll(caseGen) { case (pts, r) =>
      val got = graft.operators.Pipeline
        .gridNeighborPairs(pts.toDF("id", "x", "y"), r)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
        .sorted.toSeq
      val want = (for {
        (i, xi, yi) <- pts; (j, xj, yj) <- pts
        if i < j
        d2 = (xi - xj) * (xi - xj) + (yi - yj) * (yi - yj)
        if d2 <= r * r
      } yield (i, j, round6(math.sqrt(d2)))).sorted
      checked += 1
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(30), prop)
    assert(res.passed, s"neighbor-join property failed: ${res.status}")
    assert(checked >= 30)
  }

  test("triangleCount == naive enumeration on random graphs (ScalaCheck)") {
    // orientation arithmetic fuzzed against brute force: random dense
    // multigraphs with self-loops (must drop), duplicate and reversed
    // edges (must collapse), on few nodes so triangles are common
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val caseGen = for {
      n <- Gen.choose(0, 30)
      edges <- Gen.listOfN(n, for {
        a <- Gen.choose(0L, 8L); b <- Gen.choose(0L, 8L)
      } yield (a, b))
    } yield edges
    var checked = 0
    val prop = Prop.forAll(caseGen) { edges =>
      val r = graft.operators.Pipeline
        .triangleCount(edges.toDF("a", "b")).collect().head
      val e = edges.map { case (a, b) => (a min b, a max b) }
        .filter { case (a, b) => a < b }.toSet
      val nodes = e.flatMap { case (a, b) => Seq(a, b) }.toSeq.sorted
      val wedges = (for {
        m <- nodes
        a <- nodes if a < m && e((a, m))
        c <- nodes if c > m && e((m, c))
      } yield (a, m, c))
      val tris = wedges.count { case (a, _, c) => e((a, c)) }
      checked += 1
      (r.getLong(0), r.getLong(1), r.getLong(2)) ==
        ((e.size.toLong, wedges.size.toLong, tris.toLong))
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(30), prop)
    assert(res.passed, s"triangle property failed: ${res.status}")
    assert(checked >= 30)
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def r6(x: Double): Double = BigDecimal(x)
    .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("fdrBh: driver replay of per-metric pooled z, the A&S tail " +
      "polynomial, and the BH step-up; an event-free metric guards") {
    import spark.implicits._
    val rnd = new scala.util.Random(175)
    // 'ghost' never occurs → both arms convert 0 → se = 0 → guarded,
    // and m_tested drops to 3 for the remaining family
    val metrics = Seq("click", "ghost", "purchase", "view")
    val events = (1 to 80).flatMap { u =>
      (1 to (5 + rnd.nextInt(30))).map { _ =>
        (u.toLong, Seq("click", "purchase", "view")(rnd.nextInt(3)))
      }
    }
    val got = graft.operators.Pipeline.fdrBh(
        events.toDF("user_id", "event_type"), metrics,
        q = 0.10, minCount = 4)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)),
        if (r.isNullAt(6)) None else Some(r.getDouble(6)),
        if (r.isNullAt(7)) None else Some(r.getLong(7)),
        r.getLong(8),
        if (r.isNullAt(9)) None else Some(r.getDouble(9)),
        r.getBoolean(10), r.getBoolean(11))).toSeq
    // replay: arm split, conversions, pooled z, A&S p, BH step-up
    val users = events.groupBy(_._1).toSeq.map { case (u, es) =>
      (md5hex(u.toString).charAt(0) < '8',
        metrics.map(m => if (es.count(_._2 == m) >= 4) 1L else 0L))
    }
    val nA = users.count(_._1).toLong
    val nB = users.size.toLong - nA
    val ps = metrics.zipWithIndex.map { case (m, i) =>
      val ca = users.filter(_._1).map(_._2(i)).sum
      val cb = users.filterNot(_._1).map(_._2(i)).sum
      val pp = (ca + cb).toDouble / (nA + nB)
      val se = math.sqrt(pp * (1.0 - pp) * (1.0 / nA + 1.0 / nB))
      if (se > 0) {
        val z = (ca.toDouble / nA - cb.toDouble / nB) / se
        val az = math.abs(z)
        val tt = 1.0 / (1.0 + 0.2316419 * az)
        val poly = tt * (0.319381530 + tt * (-0.356563782 +
          tt * (1.781477937 + tt * (-1.821255978 + tt * 1.330274429))))
        (m, ca, cb, Some(z), Some(2.0 * math.exp(-az * az / 2.0) /
          2.5066282746310002 * poly))
      } else (m, ca, cb, None, None)
    }
    val mEff = ps.count(_._5.isDefined).toLong
    val ranked = ps.sortBy(t => (t._5.getOrElse(Double.MaxValue), t._1))
      .zipWithIndex.map { case (t, i) => (t, i + 1L) }
    val kStar = ranked.filter { case (t, rk) =>
      t._5.exists(_ <= rk.toDouble * 0.10 / mEff) }
      .map(_._2).reduceOption(_ max _).getOrElse(0L)
    val want = ranked.map { case ((m, ca, cb, z, p), rk) =>
      (m, (nA, ca, nB, cb), z.map(r6), p.map(r6),
        if (p.isDefined) Some(rk) else None, mEff,
        if (p.isDefined) Some(r6(rk.toDouble * 0.10 / mEff)) else None,
        p.isDefined && rk <= kStar, p.isEmpty)
    }.sortBy(_._1)
    assert(got == want, s"\n got  $got\n want $want")
    // the planted effect-free family may or may not reject; assert
    // the replay agreed AND the guard fired exactly on 'ghost'
    assert(got.count(_._9) == 1 && got.find(_._9).get._1 == "ghost")
  }

  test("kaplanMeier: driver replay of the product-limit estimator " +
      "with right-censoring; an exhausted risk set zeroes survival") {
    import spark.implicits._
    val rnd = new scala.util.Random(176)
    val base = 1700000000000000L
    val h = 3600000000L
    // user 42 pins the corpus max (far future, dur 0, censored);
    // user 41 has the unique max LIFETIME and ends long before the
    // censor window → at its duration row at_risk = churned = 1
    val users = (1 to 40).map { u =>
      val fw = base + rnd.nextInt(100) * h
      (u.toLong, fw, fw + rnd.nextInt(50) * h + rnd.nextInt(1000))
    } :+ ((41L, base - 200 * h, base)) :+
      ((42L, base + 300 * h, base + 300 * h))
    val df = users.flatMap { case (u, fw, lw) => Seq((u, fw), (u, lw)) }
      .toDF("user_id", "us")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
    val got = graft.operators.Pipeline.kaplanMeier(df, censorHours = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).toSeq
    val mxu = users.map(_._3).max
    val durs = users
      .map { case (_, fw, lw) => ((lw - fw) / h, lw > mxu - 12 * h) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (d, vs) => (d, vs.size.toLong,
        vs.count(!_._2).toLong, vs.count(_._2).toLong) }
    val nTot = durs.map(_._2).sum
    var before = 0L; var lnSum = 0.0; var dead = false
    val want = durs.map { case (d, nAll, ch, ce) =>
      val atRisk = nTot - before
      before += nAll
      if (ch < atRisk) lnSum += math.log(1.0 - ch.toDouble / atRisk)
      else dead = true
      (d, atRisk, ch, ce, r6(ch.toDouble / atRisk),
        if (dead) 0.0 else r6(math.exp(lnSum)))
    }
    assert(got == want, s"\n got  $got\n want $want")
    assert(got.last._6 == 0.0, "terminal exhaustion did not zero S(t)")
    assert(got.exists(_._4 > 0), "no censored user in play")
  }

  test("p25 in two successive scopes gives equal rows") {
    // the GateTimer/Bench sequence that broke p25 in the r11 bench: a
    // timed rerun must not reuse a memoized pair table whose sigs
    // barrier went with the previous run's scratch
    def run() = graft.Scratch.scoped(spark) {
      graft.SparkEntry.queries("p25_dedup_components")(spark, sf).collect()
    }
    val run1 = run()
    assert(run1.nonEmpty)
    val run2 = run()
    assert(run2.map(_.toSeq).toSeq == run1.map(_.toSeq).toSeq,
      "second-scope rerun diverged from the first run")
  }

  test("logRank: driver replay of the Mantel-Haenszel E/V sums over " +
      "the two md5 arms; an all-censored corpus guards") {
    import spark.implicits._
    val rnd = new scala.util.Random(180)
    val base = 1700000000000000L
    val h = 3600000000L
    val users = (1 to 60).map { u =>
      val fw = base + rnd.nextInt(100) * h
      (u.toLong, fw, fw + rnd.nextInt(50) * h + rnd.nextInt(1000))
    } :+ ((61L, base + 300 * h, base + 300 * h))
    val df = users.flatMap { case (u, fw, lw) => Seq((u, fw), (u, lw)) }
      .toDF("user_id", "us")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
    val r = graft.operators.Pipeline.logRank(df, censorHours = 12)
      .head()
    val mxu = users.map(_._3).max
    val rows = users.map { case (u, fw, lw) =>
      ((lw - fw) / h, lw > mxu - 12 * h,
        md5hex(u.toString).charAt(0) < '8')
    }
    val byDur = rows.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (d, vs) => (d,
        vs.count(_._3).toLong, vs.count(!_._3).toLong,
        vs.count(v => v._3 && !v._2).toLong,
        vs.count(v => !v._3 && !v._2).toLong)
    }
    val nA = rows.count(_._3).toLong; val nB = rows.size.toLong - nA
    var preA = 0L; var preB = 0L
    var eSum = BigDecimal(0); var vSum = BigDecimal(0)
    byDur.foreach { case (_, aA, aB, cA, cB) =>
      val rA = nA - preA; val rB = nB - preB
      preA += aA; preB += aB
      val dT = cA + cB; val nT = rA + rB
      def pin(x: Double) = BigDecimal(x)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
      if (dT > 0 && nT > 0)
        eSum += pin(dT.toDouble * rA.toDouble / nT.toDouble)
      if (dT > 0 && nT > 1)
        vSum += pin(dT.toDouble * (rA.toDouble / nT.toDouble) *
          (1.0 - rA.toDouble / nT.toDouble) *
          (nT.toDouble - dT.toDouble) / (nT.toDouble - 1.0))
    }
    val oA = byDur.map(_._4).sum
    val e = eSum.toDouble; val v = vSum.toDouble
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((nA, nB, oA, byDur.map(_._5).sum)))
    assert(r.getDouble(4) == r6(e) && r.getDouble(5) == r6(v))
    val z = (oA.toDouble - e) / math.sqrt(v)
    assert(r.getDouble(6) == r6(z) && r.getDouble(7) == r6(z * z))
    assert(!r.getBoolean(8))
    // censor window past the corpus span: zero churn, V = 0, guarded
    val g = graft.operators.Pipeline.logRank(df, censorHours = 1000000)
      .head()
    assert(g.getLong(2) == 0L && g.isNullAt(6) && g.getBoolean(8))
  }

  test("rankSumReadout: driver replay of the midrank/tie arithmetic " +
      "on random skewed metrics; a constant metric guards via V = 0") {
    import spark.implicits._
    val rnd = new scala.util.Random(181)
    (1 to 3).foreach { trial =>
      // heavy ties: values drawn from a small range
      val users = (1 to 80).map(u => (u.toLong, 1L + rnd.nextInt(6)))
      val r = graft.operators.Pipeline.rankSumReadout(
        users.toDF("user_id", "x1"), "x1").head()
      val armed = users.map { case (u, x) =>
        (x, md5hex(u.toString).charAt(0) < '8') }
      val nA = armed.count(_._2).toLong
      val nB = armed.size.toLong - nA
      val hist = armed.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (x, vs) =>
          (x, vs.size.toLong, vs.count(_._2).toLong) }
      var below = 0L; var r2a = BigInt(0); var ties = BigInt(0)
      hist.foreach { case (_, c, ca) =>
        r2a += BigInt(ca) * (below * 2 + c + 1)
        ties += BigInt(c) * c * c - c
        below += c
      }
      val u2 = r2a - BigInt(nA) * (nA + 1)
      val nD = (nA + nB).toDouble
      val v = nA.toDouble * nB.toDouble / 12.0 *
        ((nD + 1.0) - ties.toDouble / (nD * (nD - 1.0)))
      assert((r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(4)) == ((nA, nB, r2a.toDouble, ties.toDouble)),
        s"trial $trial counters")
      assert(r.getDouble(3) == r6(u2.toDouble / 2.0))
      assert(r.getDouble(5) == r6(v))
      if (v > 0) {
        assert(r.getDouble(6) ==
          r6((u2.toDouble - nA.toDouble * nB.toDouble) / 2.0 /
            math.sqrt(v)), s"trial $trial z")
        assert(!r.getBoolean(7))
      }
    }
    val c = graft.operators.Pipeline.rankSumReadout(
      (1L to 30L).map((_, 7L)).toDF("user_id", "x1"), "x1").head()
    assert(c.getDouble(5) == 0.0 && c.isNullAt(6) && c.getBoolean(7))
  }

  test("didReadout: driver replay of the two-period cell moments on " +
      "random activity; a one-arm input guards") {
    import spark.implicits._
    val rnd = new scala.util.Random(183)
    val base = 1700000000000000L
    val h = 3600000000L
    val evs = (1 to 70).flatMap { u =>
      (0 until 2 + rnd.nextInt(10)).map(_ =>
        (u.toLong, base + rnd.nextInt(200) * h + rnd.nextInt(1000)))
    }
    val df = evs.toDF("user_id", "us")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
    val r = graft.operators.Pipeline.didReadout(df).head()
    val mn = evs.map(_._2).min; val mx = evs.map(_._2).max
    val cut = mn + (mx - mn) / 2
    val users = evs.groupBy(_._1).toSeq.map { case (u, es) =>
      (md5hex(u.toString).charAt(0) < '8',
        es.count(_._2 < cut).toLong, es.count(_._2 >= cut).toLong)
    }
    def cellStats(sel: Seq[(Long, Long)]) = {
      val n = sel.size.toLong
      def mv(xs: Seq[Long]) = {
        val nD = n.toDouble
        val s = xs.sum; val q = xs.map(x => x * x).sum
        (s.toDouble / nD,
          (q.toDouble - s.toDouble * s.toDouble / nD) / (nD - 1.0))
      }
      (n, mv(sel.map(_._1)), mv(sel.map(_._2)))
    }
    val (na, (maPre, vaPre), (maPost, vaPost)) =
      cellStats(users.filter(_._1).map(t => (t._2, t._3)))
    val (nb, (mbPre, vbPre), (mbPost, vbPost)) =
      cellStats(users.filterNot(_._1).map(t => (t._2, t._3)))
    val did = (maPost - maPre) - (mbPost - mbPre)
    val seSq = (vaPre + vaPost) / na.toDouble +
      (vbPre + vbPost) / nb.toDouble
    assert((r.getLong(0), r.getLong(1)) == ((na, nb)))
    assert(r.getDouble(2) == r6(maPre) && r.getDouble(3) == r6(maPost))
    assert(r.getDouble(4) == r6(mbPre) && r.getDouble(5) == r6(mbPost))
    assert(r.getDouble(6) == r6(did))
    assert(r.getDouble(7) == r6(math.sqrt(seSq)))
    assert(r.getDouble(8) == r6(did / math.sqrt(seSq)))
    assert(!r.getBoolean(9))
    // single-user input: one empty arm → guarded, everything NULL
    val g = graft.operators.Pipeline.didReadout(
      df.filter(col("user_id") === 1L)).head()
    assert(g.isNullAt(6) && g.isNullAt(8) && g.getBoolean(9))
  }

  test("weightDiagnostics: driver replay of the max-normalized " +
      "pinned-sum ESS and heavy count on random weights; zero " +
      "weights guard; a 1e30 weight reads out instead of NULL-dropping") {
    import spark.implicits._
    val rnd = new scala.util.Random(184)
    def pin(x: Double) = BigDecimal(x)
      .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    def replay(ws: Seq[Double]): (Double, Double, Double, Double, Long) = {
      val mwa = ws.map(math.abs).max
      val swn = ws.map(x => pin(x / mwa)).sum.toDouble
      val sw2n = ws.map(x => pin((x / mwa) * (x / mwa))).sum.toDouble
      val mw = ws.max
      val heavy =
        ws.count(_ > 10.0 * mwa * swn / ws.size.toDouble).toLong
      (mwa * swn, swn * swn / sw2n, mw / mwa / swn,
        swn * swn / sw2n / ws.size.toDouble, heavy)
    }
    (1 to 3).foreach { trial =>
      // lognormal-ish: a few dominant weights so n_heavy fires
      val ws = (1 to 60).map(_ =>
        r6(math.exp(rnd.nextGaussian() * 2)))
      val r = graft.pipeline.Corpus.weightDiagnostics(
        ws.toDF("w"), "w").head()
      val (sw, ess, maxShare, essFrac, heavy) = replay(ws)
      assert(r.getLong(0) == ws.size.toLong)
      assert(r.getDouble(1) == r6(sw), s"trial $trial sum")
      assert(r.getDouble(2) == r6(ess), s"trial $trial ess")
      assert(r.getDouble(3) == r6(essFrac))
      assert(r.getDouble(4) == r6(maxShare))
      assert(r.getLong(5) == heavy, s"trial $trial heavy")
      assert(!r.getBoolean(6))
    }
    val z = graft.pipeline.Corpus.weightDiagnostics(
      Seq(0.0, 0.0).toDF("w"), "w").head()
    assert(z.isNullAt(2) && z.getBoolean(6))
    // the ADVICE r11 overflow regime: a weight whose square blows any
    // raw DECIMAL(38,12) pin — normalized pins read it out exactly
    // (everything else quantizes to 0 relative to it → ESS exactly 1)
    val ws30 = Seq(1.0, 2.0, 1.0e30)
    val x = graft.pipeline.Corpus.weightDiagnostics(
      ws30.toDF("w"), "w").head()
    val (sw30, ess30, maxShare30, _, heavy30) = replay(ws30)
    assert(x.getLong(0) == 3L && !x.getBoolean(6))
    assert(x.getDouble(1) == r6(sw30) && sw30 == 1.0e30)
    assert(x.getDouble(2) == r6(ess30) && ess30 == 1.0)
    assert(x.getDouble(4) == r6(maxShare30) && maxShare30 == 1.0)
    // 10×-mean threshold is 10·1e30/3 ≈ 3.3e30 — above even the
    // planted weight, so n_heavy is 0 here (mean ≈ max/n regime)
    assert(x.getLong(5) == heavy30 && heavy30 == 0L)
  }

  test("srmCheck: driver replay of the df=1 chi-square; a 25% " +
      "assignment declared as 50% must alarm, an honest 50% must not") {
    import spark.implicits._
    val users = (1L to 200L).toDF("user_id")
    val ids = (1L to 200L)
    def nA(cut: Char) =
      ids.count(u => md5hex(u.toString).charAt(0) < cut).toLong
    def chi(na: Long, n: Long): Double = {
      val ea = n.toDouble * 0.5; val eb = n.toDouble * 0.5
      val nad = na.toDouble; val nbd = (n - na).toDouble
      (nad - ea) * (nad - ea) / ea + (nbd - eb) * (nbd - eb) / eb
    }
    val h = graft.operators.Pipeline.srmCheck(users, "8", 0.5).head()
    assert(h.getLong(0) == nA('8'))
    assert(h.getDouble(3) == r6(chi(nA('8'), 200)))
    assert(h.getBoolean(4) == (chi(nA('8'), 200) > 10.827566170662733))
    val b = graft.operators.Pipeline.srmCheck(users, "4", 0.5).head()
    assert(b.getDouble(3) == r6(chi(nA('4'), 200)))
    assert(b.getBoolean(4), "25% split declared as 50% did not alarm")
    // empty input guards
    val g = graft.operators.Pipeline.srmCheck(
      users.filter(lit(false)), "8", 0.5).head()
    assert(g.getBoolean(5) && g.isNullAt(3))
  }

  test("olsReadout: driver replay of the moment determinants; a " +
      "constant regressor guards via dxx = 0") {
    import spark.implicits._
    val rnd = new scala.util.Random(182)
    (1 to 3).foreach { trial =>
      val rows = (1 to 100).map { _ =>
        val x = 1L + rnd.nextInt(50)
        (x, 3 * x + rnd.nextInt(40).toLong)
      }
      val r = graft.operators.Pipeline.olsReadout(
        rows.toDF("x", "y"), "x", "y").head()
      val n = rows.size.toLong
      val sx = rows.map(t => BigInt(t._1)).sum
      val sy = rows.map(t => BigInt(t._2)).sum
      val sxx = rows.map(t => BigInt(t._1) * t._1).sum
      val sxy = rows.map(t => BigInt(t._1) * t._2).sum
      val syy = rows.map(t => BigInt(t._2) * t._2).sum
      val dxx = (n * sxx - sx * sx).toDouble
      val dxy = (n * sxy - sx * sy).toDouble
      val dyy = (n * syy - sy * sy).toDouble
      assert(r.getLong(0) == n)
      assert(r.getDouble(1) == r6(dxy / dxx), s"trial $trial slope")
      assert(r.getDouble(2) ==
        r6((sy.toDouble - dxy / dxx * sx.toDouble) / n.toDouble))
      assert(r.getDouble(3) == r6(dxy * dxy / (dxx * dyy)))
      val vs = (dyy - dxy * dxy / dxx) / ((n.toDouble - 2.0) * dxx)
      if (vs > 0)
        assert(r.getDouble(4) == r6(dxy / dxx / math.sqrt(vs)),
          s"trial $trial t")
      assert(!r.getBoolean(5))
    }
    val g = graft.operators.Pipeline.olsReadout(
      (1L to 20L).map(i => (1L, i)).toDF("x", "y"), "x", "y").head()
    assert(g.isNullAt(1) && g.isNullAt(3) && g.getBoolean(5))
  }

  test("conformalCalibration: driver replay of the k-rank residual " +
      "quantile and test coverage; alpha below 1/(n+1) guards") {
    import spark.implicits._
    val rnd = new scala.util.Random(177)
    val rows = (1L to 60L).map(i => (i, 50L + rnd.nextInt(500).toLong))
    val r = graft.operators.Pipeline.conformalCalibration(
      rows.toDF("doc_id", "n_chars"), alpha = 0.25).head()
    val cal = rows.filter(t => md5hex(t._1.toString).charAt(0) < 'c')
    val tst = rows.filterNot(t => md5hex(t._1.toString).charAt(0) < 'c')
    val mean = cal.map(_._2).sum.toDouble / cal.size.toDouble
    val k = math.ceil((cal.size + 1).toDouble * 0.75).toLong
    val resid = cal.map { case (id, x) => (math.abs(x - mean), id) }
      .sorted
    val qhat = resid(k.toInt - 1)._1
    val nCov = tst.count { case (_, x) => math.abs(x - mean) <= qhat }
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      ((cal.size.toLong, tst.size.toLong, k)))
    assert(r.getDouble(3) == r6(qhat) && r.getLong(4) == nCov.toLong)
    assert(r.getDouble(5) == r6(nCov.toDouble / tst.size))
    assert(!r.getBoolean(6))
    // k = ceil((n+1)·(1−1/32)) > n for n < 31 → guarded branch
    val g = graft.operators.Pipeline.conformalCalibration(
      rows.take(10).toDF("doc_id", "n_chars"), alpha = 0.03125).head()
    assert(g.isNullAt(3) && g.isNullAt(4) && g.getBoolean(6))
  }

  test("anovaF: driver replay of the decimal-pinned moment " +
      "decomposition; a constant metric guards via exact SSW = 0") {
    import spark.implicits._
    val rnd = new scala.util.Random(178)
    val rows = (1 to 200).map(i =>
      (s"s${i % 5}", (20 + rnd.nextInt(400)).toLong))
    val r = graft.operators.Pipeline.anovaF(
      rows.toDF("source", "x"), "x", "source").head()
    val gs = rows.groupBy(_._1).toSeq.map { case (_, vs) =>
      (vs.size.toLong, vs.map(_._2).sum, vs.map(v => v._2 * v._2).sum)
    }
    val k = gs.size.toLong; val n = gs.map(_._1).sum
    val sAll = gs.map(_._2).sum.toDouble
    val qAll = gs.map(_._3).sum.toDouble
    val ssbPart = gs.map { case (ng, sg, _) =>
      BigDecimal(sg.toDouble * sg.toDouble / ng.toDouble)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    }.sum.toDouble
    val ssb = ssbPart - sAll * sAll / n.toDouble
    val ssw = qAll - ssbPart
    assert((r.getLong(0), r.getLong(1)) == ((k, n)))
    assert(r.getDouble(2) == r6(ssb) && r.getDouble(3) == r6(ssw))
    assert((r.getLong(4), r.getLong(5)) == ((k - 1, n - k)))
    assert(r.getDouble(6) ==
      r6((ssb / (k - 1.0)) / (ssw / (n.toDouble - k))))
    assert(r.getDouble(7) == r6(ssb / (ssb + ssw)))
    assert(!r.getBoolean(8))
    val c = graft.operators.Pipeline.anovaF(
      rows.map(t => (t._1, 7L)).toDF("source", "x"), "x", "source")
      .head()
    assert(c.getDouble(3) == 0.0 && c.isNullAt(6) && c.getBoolean(8))
  }

  private def seqPav(bins: Seq[(Long, Long)]): Seq[Double] = {
    // sequential pool-adjacent-violators on exact (n, pos) longs;
    // violation test by integer cross-multiplication (no float order)
    val stack = scala.collection.mutable.ArrayBuffer[(Long, Long, Int)]()
    bins.foreach { case (n, pos) =>
      stack += ((n, pos, 1))
      while (stack.length >= 2 && {
        val (n2, p2, _) = stack(stack.length - 2)
        val (n1, p1, _) = stack.last
        p2 * n1 > p1 * n2
      }) {
        val (n1, p1, w1) = stack.remove(stack.length - 1)
        val (n2, p2, w2) = stack.remove(stack.length - 1)
        stack += ((n1 + n2, p1 + p2, w1 + w2))
      }
    }
    stack.flatMap { case (n, pos, w) =>
      Seq.fill(w)(r6(pos.toDouble / n.toDouble)) }.toSeq
  }

  test("isotonicCalibration: minimax fitted equals sequential PAV " +
      "on the corpus and on random violating bin profiles") {
    import spark.implicits._
    val docsFull = spark.read.parquet(s"$sf/documents.parquet")
    val rows = TextAnalysis.isotonicCalibration(docsFull, steps = 1,
      nBins = 100).collect()
    assert(rows.length >= 2)
    val fitted = rows.map(_.getDouble(4))
    assert(fitted.zip(fitted.tail).forall { case (a, b) => a <= b },
      s"fitted not monotone: ${fitted.mkString(",")}")
    assert(fitted.toSeq ==
      seqPav(rows.map(r => (r.getLong(1), r.getLong(2))).toSeq),
      "corpus minimax != sequential PAV")
    // random bin profiles guarantee the pooling path fires
    val rnd = new scala.util.Random(179)
    (1 to 3).foreach { trial =>
      val bins = (0 until 12).map { b =>
        val n = 1L + rnd.nextInt(40)
        (b.toLong, n, rnd.nextLong(n + 1))
      }
      val got = TextAnalysis.pavFit(bins.toDF("bin", "n", "pos"))
        .collect()
      val want = seqPav(bins.map(t => (t._2, t._3)))
      assert(got.map(_.getDouble(4)).toSeq == want,
        s"trial $trial:\n got  ${got.map(_.getDouble(4)).toSeq}" +
          s"\n want $want")
      val blocks = want.distinct.size
      assert(blocks < bins.size || want == want.sorted,
        s"trial $trial produced no pooling and wasn't monotone")
      // every trial at this density must pool somewhere
      assert(blocks < bins.size, s"trial $trial: no violators pooled")
    }
  }
}
