package graft

import graft.functions.LongArrayKernel
import graft.functions.LongArrayKernel.{Dot, SqDist}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Bridge

/** The native codegen'd array kernels must be bit-identical to the
  * portable HOF formulations on real vectors, nulls, and length skew.
  */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def hofDot = (a: String, b: String) =>
    aggregate(zip_with(col(a), col(b), (x, y) => x * y),
      lit(0L), (acc, x) => acc + x)

  private def hofSqDist = (a: String, b: String) =>
    aggregate(zip_with(col(a), col(b), (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)

  test("LongArrayKernel dot == aggregate/zip_with on quantized embeddings") {
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1000000, 0).cast("long")).as("v"))
    val diff = emb
      .select(LongArrayKernel.of(Dot)(col("v"), col("v")).as("native"),
        hofDot("v", "v").as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(diff == 0)
  }

  test("LongArrayKernel handles nulls and unequal lengths (dot and sqdist)") {
    // HOF-aligned semantics (r6, required by RewriteHofArrayKernel): a
    // length mismatch nulls the result — zip_with pads the shorter side
    // with nulls and the null term poisons the sum — as does a null
    // array or element
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),   // dot 32, sqdist 27
      (Seq(1L, 2L), Seq(10L, 10L, 99L)))     // mismatch: null
      .toDF("a", "b")
    for ((op, hof, full) <- Seq((Dot, hofDot, 32L), (SqDist, hofSqDist, 27L))) {
      val kernel = LongArrayKernel.of(op) _
      val vals = df.select(kernel(col("a"), col("b")).as("d"))
        .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
        .toSeq
      assert(vals == Seq(Some(full), None), op)
      val withNull = df.select(
        kernel(lit(null).cast("array<bigint>"), col("b")))
        .collect().map(_.isNullAt(0)).toSeq
      assert(withNull == Seq(true, true), op)
      val nullElem = df.select(
        kernel(array(lit(1L), lit(null).cast("bigint"), lit(3L)), col("b")))
        .collect().map(_.isNullAt(0)).toSeq
      assert(nullElem == Seq(true, true), op)
      // matches the HOF spelling row-for-row, null included
      val both = df.select(kernel(col("a"), col("b")).as("n"),
          hof("a", "b").as("h"))
        .collect().map(r => (r.isNullAt(0), r.isNullAt(1))).toSeq
      assert(both == Seq((false, false), (true, true)), op)
    }
  }

  test("LongArrayKernel raises on int64 overflow under ANSI (dot and sqdist)") {
    // the ANSI kernel (what the rewrite builds under Spark 4's default
    // EvalMode) must fail loudly where the HOF would, on both the
    // codegen path (a plain projection over a non-foldable input) and
    // the interpreted path (inside a higher-order lambda)
    val big = spark.range(1).select(
      array(col("id") + lit(Long.MaxValue)).as("a"),
      array(col("id") + lit(Long.MaxValue - 4000000000L)).as("b"))
    def raises(c: Column): Boolean = {
      val e = intercept[Exception](big.select(c).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException])
    }
    for ((op, hof) <- Seq((Dot, hofDot), (SqDist, hofSqDist))) {
      def ansi(x: Column, y: Column): Column = Bridge.column(LongArrayKernel(
        Bridge.expression(x), Bridge.expression(y), op, failOnError = true))
      assert(raises(ansi(col("a"), col("b"))), s"$op codegen path")
      assert(raises(transform(col("a"), x => ansi(array(x), col("b")))),
        s"$op interpreted path")
      // the HOF spelling is rewritten to the ANSI kernel and raises too
      val rewritten = big.select(hof("a", "b"))
      assert(rewritten.queryExecution.optimizedPlan.toString
        .contains(op.sqlName), s"$op not rewritten")
      assert(raises(hof("a", "b")), s"$op rewritten HOF")
    }
  }

  test("WAV codec round-trips PCM16 and rejects malformed containers") {
    import graft.functions.Codecs.Wav
    val samples = Array[Short](0, 1, -1, Short.MaxValue, Short.MinValue, 12345)
    val bytes = Wav.encode(44100, samples)
    assert(bytes.length == 44 + samples.length * 2)
    val (sr, back) = Wav.decode(bytes)
    assert(sr == 44100 && back.sameElements(samples))
    // empty clip round-trips too
    assert(Wav.decode(Wav.encode(8000, Array.empty[Short]))._2.isEmpty)
    // corrupt the RIFF magic → the parser must refuse, not mis-read
    val bad = bytes.clone(); bad(0) = 'X'.toByte
    intercept[IllegalArgumentException](Wav.decode(bad))
    // truncated data chunk
    intercept[IllegalArgumentException](Wav.decode(bytes.dropRight(1)))
  }

  test("GrayImage codec round-trips and validates dimensions") {
    import graft.functions.Codecs.GrayImage
    val px = Array.tabulate(12)(i => (i * 20).toByte)
    val bytes = GrayImage.encode(4, 3, px)
    val (w, h, back) = GrayImage.decode(bytes)
    assert(w == 4 && h == 3 && back.sameElements(px))
    val bad = bytes.clone(); bad(1) = 'x'.toByte
    intercept[IllegalArgumentException](GrayImage.decode(bad))
    intercept[IllegalArgumentException](GrayImage.decode(bytes ++ Array(0.toByte)))
    // w*h overflowing Int32 to 0 must not slip past the length check
    val overflow = java.nio.ByteBuffer.allocate(12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put(GrayImage.Magic.getBytes("US-ASCII")).putInt(65536).putInt(65536)
      .array()
    intercept[IllegalArgumentException](GrayImage.decode(overflow))
    // ...and encode must refuse to produce those bytes in the first place
    intercept[IllegalArgumentException](
      GrayImage.encode(65536, 65536, Array.empty[Byte]))
  }

  test("codecs reject shorter-than-header payloads with the documented exception") {
    // ADVICE r4: truncated headers used to leak BufferUnderflowException
    import graft.functions.Codecs.{GrayImage, Video, Wav}
    for (n <- Seq(0, 1, 11, 43)) {
      intercept[IllegalArgumentException](Wav.decode(new Array[Byte](n)))
    }
    for (n <- Seq(0, 1, 11)) {
      intercept[IllegalArgumentException](GrayImage.decode(new Array[Byte](n)))
    }
    for (n <- Seq(0, 1, 15)) {
      intercept[IllegalArgumentException](Video.decode(new Array[Byte](n)))
    }
  }

  test("Video codec round-trips frame sequences and validates dimensions") {
    import graft.functions.Codecs.Video
    val frames = Array.tabulate(5)(f => Array.tabulate(8)(i => (f * 8 + i).toByte))
    val bytes = Video.encode(4, 2, frames)
    val (w, h, back) = Video.decode(bytes)
    assert(w == 4 && h == 2 && back.length == 5 &&
      back.zip(frames).forall { case (a, b) => a.sameElements(b) })
    // zero-frame clip is valid (short docs produce it in q_mm_video_frames)
    val (w0, h0, none) = Video.decode(Video.encode(8, 4, Array.empty))
    assert(w0 == 8 && h0 == 4 && none.isEmpty)
    val bad = bytes.clone(); bad(0) = 'x'.toByte
    intercept[IllegalArgumentException](Video.decode(bad))
    intercept[IllegalArgumentException](Video.decode(bytes.dropRight(1)))
    // w*h*nf overflowing Int32 must not slip past the length check
    val overflow = java.nio.ByteBuffer.allocate(16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put(Video.Magic.getBytes("US-ASCII"))
      .putInt(65536).putInt(65536).putInt(1).array()
    intercept[IllegalArgumentException](Video.decode(overflow))
    intercept[IllegalArgumentException](
      Video.encode(65536, 65536, Array(Array.empty[Byte])))
  }

  test("Flate codec round-trips DEFLATE payloads and rejects corruption") {
    import graft.functions.Codecs.Flate
    // compressible text, incompressible pseudo-random bytes, and empty
    val texts = Seq(
      "the quick brown fox " * 50,
      (0 until 4096).map(i => ((i * 2654435761L >>> 7) & 0x7F).toChar).mkString,
      "")
    for (t <- texts) {
      val raw = t.getBytes("UTF-8")
      val enc = Flate.encode(raw)
      assert(Flate.decode(enc).sameElements(raw))
    }
    val enc = Flate.encode("hello deflate world, hello again".getBytes("UTF-8"))
    // compression actually happened on repetitive input
    val big = Flate.encode(("abc" * 2000).getBytes("UTF-8"))
    assert(big.length < 6000 / 4, s"no compression: ${big.length} bytes")
    // bad magic
    val badMagic = enc.clone(); badMagic(0) = 'X'.toByte
    intercept[IllegalArgumentException](Flate.decode(badMagic))
    // truncated header (ADVICE-r4 contract: documented exception, not
    // BufferUnderflow)
    for (n <- Seq(0, 1, 11)) {
      intercept[IllegalArgumentException](Flate.decode(new Array[Byte](n)))
    }
    // truncated stream
    intercept[IllegalArgumentException](Flate.decode(enc.dropRight(1)))
    // declared length shorter than the stream's true content
    val shortLen = enc.clone()
    java.nio.ByteBuffer.wrap(shortLen).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(4, 5)
    intercept[IllegalArgumentException](Flate.decode(shortLen))
    // corrupted checksum
    val badSum = enc.clone(); badSum(8) = (badSum(8) ^ 0x5A).toByte
    intercept[IllegalArgumentException](Flate.decode(badSum))
    // corrupted compressed byte → either DataFormat (wrapped) or checksum
    val badBody = enc.clone()
    badBody(badBody.length - 3) = (badBody(badBody.length - 3) ^ 0x55).toByte
    intercept[IllegalArgumentException](Flate.decode(badBody))
  }

  test("Rle codec round-trips, counts true runs, and rejects malformed containers") {
    import graft.functions.Codecs.Rle
    val cases = Seq(
      Array.empty[Byte],
      Array[Byte](7),
      "aaabbbbcdddd".getBytes("US-ASCII"),
      Array.fill(1000)(42.toByte),                       // one long run
      (0 until 257).map(_.toByte).toArray)               // no runs > 1
    for (raw <- cases) {
      val enc = Rle.encode(raw)
      assert(Rle.decode(enc).sameElements(raw))
      // pair count equals the true boundary-change count (the oracle's
      // adjacent-difference census) — 32-bit lengths never split a run
      val trueRuns = if (raw.isEmpty) 0
        else 1 + raw.sliding(2).count(p => p.length == 2 && p(0) != p(1))
      assert((enc.length - 8) / 5 == trueRuns, s"runs for ${raw.length} bytes")
    }
    val enc = Rle.encode("aaabbb".getBytes("US-ASCII"))
    val badMagic = enc.clone(); badMagic(0) = 'X'.toByte
    intercept[IllegalArgumentException](Rle.decode(badMagic))
    for (n <- Seq(0, 7)) {
      intercept[IllegalArgumentException](Rle.decode(new Array[Byte](n)))
    }
    // truncated pair list (length no longer ≡ 0 mod 5)
    intercept[IllegalArgumentException](Rle.decode(enc.dropRight(1)))
    // run overruns the declared raw length
    val badLen = enc.clone()
    java.nio.ByteBuffer.wrap(badLen).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(4, 3)
    intercept[IllegalArgumentException](Rle.decode(badLen))
  }

  test("DeltaVarint codec round-trips PCM16 and rejects malformed streams") {
    import graft.functions.Codecs.DeltaVarint
    val cases = Seq(
      Array.empty[Short],
      Array[Short](0),
      Array[Short](Short.MinValue, Short.MaxValue, 0, -1, 1),
      (0 until 1000).map(i => ((i * 37) % 200 - 100).toShort).toArray,
      Array.fill[Short](500)(12345))
    for (raw <- cases) {
      val enc = DeltaVarint.encode(raw)
      assert(DeltaVarint.decode(enc).sameElements(raw))
    }
    // a constant stream codes ~1 byte/sample after the first delta
    val flat = DeltaVarint.encode(Array.fill[Short](1000)(777))
    assert(flat.length <= 8 + 2 + 999, s"no delta win: ${flat.length}")
    val enc = DeltaVarint.encode(Array[Short](100, 200, 300))
    val badMagic = enc.clone(); badMagic(0) = 'X'.toByte
    intercept[IllegalArgumentException](DeltaVarint.decode(badMagic))
    for (n <- Seq(0, 7)) {
      intercept[IllegalArgumentException](DeltaVarint.decode(new Array[Byte](n)))
    }
    // truncated varint stream (fewer samples than the header claims)
    intercept[IllegalArgumentException](DeltaVarint.decode(enc.dropRight(1)))
    // trailing garbage after the declared sample count
    intercept[IllegalArgumentException](DeltaVarint.decode(enc :+ 0.toByte))
  }

  test("DetMath.lnInt matches its scalar replica bit-for-bit and real ln to 1e-14") {
    import graft.functions.DetMath
    val ns = ((1L to 256L) ++ Seq(1000L, 4096L, 65535L, 65536L, 1000000L,
      (1L << 40) - 1, 1L << 40, (1L << 62) + 5)).toSeq
    val got = ns.toDF("n")
      .select(col("n"), DetMath.lnInt(col("n")).as("ln"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ns.foreach { n =>
      // the Column tree and the scalar replica are the same construction
      // — any codegen/optimizer reassociation would break bit-equality
      assert(java.lang.Double.doubleToLongBits(got(n)) ==
        java.lang.Double.doubleToLongBits(DetMath.lnIntScalar(n)),
        s"n=$n col=${got(n)} scalar=${DetMath.lnIntScalar(n)}")
      val rel = math.abs(got(n) - math.log(n.toDouble)) /
        math.max(math.abs(math.log(n.toDouble)), 1e-300)
      assert(n == 1 || rel < 1e-14, s"n=$n rel=$rel")
    }
    assert(got(1L) == 0.0)
  }

  test("floorDiv matches Math.floorDiv on negatives; bucketed interval join is total") {
    import graft.Dsl.floorDiv
    // truncation (`/`+cast) would differ from floor on every negative
    // non-multiple — the review-r5 latent mis-bucketing
    val vals = Seq(-3600000001L, -3600000000L, -1800000001L, -1L, 0L, 1L,
      1799999999L, 1800000000L, 1800000001L)
    val got = vals.toDF("v")
      .select(col("v"), floorDiv(col("v"), 1800000000L).as("fd"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    vals.foreach(v => assert(got(v) == Math.floorDiv(v, 1800000000L), s"v=$v"))

    // pre-epoch timestamps: the (user_id, 30-min cell) bucketed join
    // must equal the pure range semantics the oracle states (values are
    // ms-exact so Timestamp round-trips them losslessly)
    def ts(us: Long) = new java.sql.Timestamp(us / 1000L)
    val rows = Seq(
      // pus exactly on a cell edge, clicks around the window bounds
      (1L, "purchase", 10L, ts(-3600000000L)),
      (1L, "click", 11L, ts(-3600000000L)),  // == pus → IN
      (1L, "click", 12L, ts(-1800001000L)),  // just inside the window
      (1L, "click", 13L, ts(-1800000000L)),  // exactly pus+30min → OUT
      (2L, "purchase", 20L, ts(-1000L)),
      (2L, "click", 21L, ts(-1000L)), (2L, "click", 22L, ts(0L)),
      (2L, "click", 23L, ts(1799998000L)))   // inside (cross-epoch cell)
    val ev = rows.toDF("user_id", "event_type", "event_id", "ts")
    val got2 = graft.ops.Streaming.clickPurchasePairs(ev)
      .select(col("click_id"), col("purchase_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force reference on the same rows
    val want = (for {
      (pu, pt, pid, pts) <- rows if pt == "purchase"
      (cu, ct, cid, cts) <- rows if ct == "click" && cu == pu
      pus = pts.getTime * 1000L
      cus = cts.getTime * 1000L
      if cus >= pus && cus < pus + 1800000000L
    } yield (cid, pid)).toSet
    assert(got2 == want, s"got=$got2 want=$want")
  }

  test("the 16 LSH hyperplanes are pairwise non-collinear and balanced") {
    // ADVICE r4 medium: the old (j·odd + k·odd) mod 2 formula collapsed
    // all 16 planes onto ±plane0, degenerating band candidates back to
    // ~n²/4 per label. For ±1 vectors collinearity means equality or
    // negation — assert neither holds for any pair, and that each plane
    // is roughly balanced (a constant plane would make its bit useless).
    val planes = (0 until 16).map(graft.ops.VecOps.hyperPlane)
    for (i <- 0 until 16; j <- (i + 1) until 16) {
      assert(planes(i) != planes(j), s"plane $i == plane $j")
      assert(planes(i) != planes(j).map(-_), s"plane $i == -plane $j")
    }
    planes.zipWithIndex.foreach { case (p, i) =>
      val pos = p.count(_ == 1L)
      assert(pos >= 16 && pos <= 48, s"plane $i unbalanced: $pos/64 positive")
    }
    // and the oracle injects the SAME literals Scala computed
    (0 until 16).foreach { j =>
      assert(graft.ops.VecOps.oracleHyperSig
        .contains(graft.ops.VecOps.hyperPlane(j).mkString("[", ", ", "]")))
    }
  }
}
