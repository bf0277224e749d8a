package graft.ext

import java.awt.image.BufferedImage

import graft.SparkSpec

/** Perceptual average-hash: invariances, discrimination, and the planted
  * near-dup pair surfacing through the shared banded miner.
  */
class PhashSpec extends SparkSpec {

  private def img(w: Int, h: Int)(px: (Int, Int) => Int): BufferedImage = {
    val b = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) b.setRGB(x, y, px(x, y))
    b
  }
  private def gray(v: Int): Int = (v << 16) | (v << 8) | v

  // shared planted-pair fixtures (one definition — tests must not drift)
  private lazy val baseImg =
    img(48, 48)((x, y) => gray(30 + (x * 4 + y * 2) % 180))
  private lazy val nearImg = img(48, 48)((x, y) =>
    if (x == 5 && y == 7) gray(255) else gray(30 + (x * 4 + y * 2) % 180))
  private lazy val farImg = img(48, 48)((x, y) =>
    gray(if (((x / 6) + (y / 6)) % 2 == 0) 20 else 230))

  test("aHash is exactly brightness-invariant while no pixel clips") {
    val base = img(40, 40)((x, y) => gray(40 + (x * 3 + y * 5) % 160))
    val shifted = img(40, 40)((x, y) => gray(60 + (x * 3 + y * 5) % 160))
    assert(Multimodal.imagePhash64(base) == Multimodal.imagePhash64(shifted),
      "a uniform +20 brightness shift changed the hash")
  }

  test("a full-width lower sub-image hashes its own rows, not its " +
      "parent's (both fast raster layouts)") {
    for (tpe <- Seq(BufferedImage.TYPE_INT_RGB, BufferedImage.TYPE_3BYTE_BGR)) {
      // top half a horizontal gradient, bottom half a checkerboard
      val parent = new BufferedImage(32, 32, tpe)
      for (y <- 0 until 32; x <- 0 until 32) parent.setRGB(x, y,
        if (y < 16) gray(x * 7)
        else gray(if (((x / 4) + (y / 4)) % 2 == 0) 30 else 220))
      // shares the parent's buffer at offset 0 and stride 32
      val sub = parent.getSubimage(0, 16, 32, 16)
      val copy = new BufferedImage(32, 16, tpe)
      for (y <- 0 until 16; x <- 0 until 32) copy.setRGB(x, y, sub.getRGB(x, y))
      assert(Multimodal.imagePhash64(sub) == Multimodal.imagePhash64(copy),
        s"image type $tpe: sub-image hashed the parent's top rows")
    }
  }

  test("aHash separates structure: gradient vs checkerboard vs inverse") {
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val g = Multimodal.imagePhash64(img(32, 32)((x, _) => gray(x * 7)))
    val check = Multimodal.imagePhash64(
      img(32, 32)((x, y) => gray(if (((x / 4) + (y / 4)) % 2 == 0) 30 else 220)))
    val ginv = Multimodal.imagePhash64(img(32, 32)((x, _) => gray(217 - x * 7)))
    assert(dist(g, check) > 10, s"gradient vs checker only ${dist(g, check)}")
    assert(dist(g, ginv) > 40, s"gradient vs inverse only ${dist(g, ginv)}")
  }

  test("planted near-dup image pair surfaces through the shared banded " +
      "miner; the unrelated image does not") {
    import spark.implicits._
    val sketches = Seq(
      (1L, Multimodal.imagePhash64(baseImg)),
      (2L, Multimodal.imagePhash64(nearImg)),
      (3L, Multimodal.imagePhash64(farImg)))
      .toDF("doc_id", "simhash")
    val pairs = Dedup.simhashPairsOf(sketches, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("a small local perturbation stays Hamming-close; the corpus pass " +
      "is deterministic and non-empty") {
    val d = java.lang.Long.bitCount(
      Multimodal.imagePhash64(baseImg) ^ Multimodal.imagePhash64(nearImg))
    assert(d <= 3, s"one-pixel tweak moved the hash $d bits")

    val a = graft.queries.ExtQueries.x17ImagePhash(spark, sf("sf0.001"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
    val b = graft.queries.ExtQueries.x17ImagePhash(spark, sf("sf0.001"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
    assert(a.nonEmpty && a.toSeq == b.toSeq)
  }

  test("audioPhash64: exact phase-inversion and amplitude-scaling " +
      "invariance; envelope structure separates; planted pair mines") {
    import spark.implicits._
    // a loudness envelope: quiet first half, loud second half
    val tone = Array.tabulate[Short](6400)(i =>
      (math.sin(i * 0.3) * (if (i < 3200) 500 else 8000)).toShort)
    val inverted = tone.map(s => (-s).toShort)
    val h = Multimodal.audioPhash64(tone)
    assert(h == Multimodal.audioPhash64(inverted), "phase inversion moved it")
    // exact amplitude scaling needs exact halving — use an even-sample
    // signal (the sin-rounded tone has odd samples)
    val even = Array.tabulate[Short](6400)(i =>
      (2 * ((i % 100) - 50 + (if (i < 3200) 0 else 2000))).toShort)
    assert(Multimodal.audioPhash64(even) ==
      Multimodal.audioPhash64(even.map(s => (s / 2).toShort)),
      "exact halving moved the hash")
    // different envelope (loud-quiet vs quiet-loud) must be far
    val reversed = tone.reverse
    val d = java.lang.Long.bitCount(h ^ Multimodal.audioPhash64(reversed))
    assert(d > 20, s"reversed envelope only $d bits away")
    // planted near-dup: one window's samples slightly perturbed
    val near = tone.clone()
    var i = 0
    while (i < 50) { near(i) = (near(i) + 3).toShort; i += 1 }
    val sketches = Seq(
      (1L, h), (2L, Multimodal.audioPhash64(near)),
      (3L, Multimodal.audioPhash64(reversed)))
      .toDF("doc_id", "simhash")
    val pairs = Dedup.simhashPairsOf(sketches, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("audioNearDupPairs over the corpus equals the brute-force " +
      "Hamming<=3 set of its own hash table") {
    val hashes = graft.queries.ExtQueries.x18AudioPhash(spark, sf("sf0.001"))
      .collect().map(r => r.getLong(0) -> r.getLong(2))
    assert(hashes.nonEmpty)
    val brute = (for {
      (a, ha) <- hashes; (b, hb) <- hashes if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    val mined = Multimodal.audioNearDupPairs(spark, sf("sf0.001"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mined == brute,
      s"missing=${brute -- mined} extra=${mined -- brute}")
  }

  test("imageNearDupPairs over the corpus equals the brute-force " +
      "Hamming<=3 set of its own hash table (band completeness, " +
      "composition exercised end-to-end)") {
    val hashes = graft.queries.ExtQueries.x17ImagePhash(spark, sf("sf0.001"))
      .collect().map(r => r.getLong(0) -> r.getLong(2))
    val brute = (for {
      (a, ha) <- hashes; (b, hb) <- hashes if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    val mined = Multimodal.imageNearDupPairs(spark, sf("sf0.001"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mined == brute,
      s"missing=${brute -- mined} extra=${mined -- brute}")
  }
}
