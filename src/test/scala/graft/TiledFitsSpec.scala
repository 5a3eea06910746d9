package graft

import graft.fits.{FitsFormat, FitsWriter, TileCodec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Tiled-table compression (ZTABLE=T, the fpack table shape): codec
  * round-trips per bytepix including the degenerate block paths, the
  * executor-side tiled writer against the DSv2 reader end-to-end, tile
  * (not row) split planning, and column-pruned decompression. Raw
  * ScalaCheck, the FitsFuzzSpec convention (no scalatest bridge on the
  * offline classpath).
  */
class TiledFitsSpec extends SparkTestBase {

  private def check(prop: Prop, n: Int = 100): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  // ------------------------------------------------------------ RICE codec

  test("RICE round-trips fixed vectors at every bytepix") {
    for (bp <- Seq(1, 2, 4, 8)) {
      val cases = Seq(
        Array.empty[Long],
        Array(0L),
        Array(5L, 5L, 5L, 5L), // zero-diff block
        Array.tabulate(100)(_.toLong), // constant diff
        Array.tabulate(200)(i => (i * 13 % 7).toLong),
        Array.fill(33)(0L) ++ Array(1L)) // block boundary straddle
      cases.foreach { vs =>
        val dec = TileCodec.riceDecode(TileCodec.riceEncode(vs, bp), vs.length, bp)
        assert(dec.toSeq == vs.toSeq, s"bytepix $bp on ${vs.take(8).toSeq}...")
      }
    }
  }

  test("RICE survives full-range noise via the verbatim escape") {
    val extremes = Array(Long.MinValue, Long.MaxValue, 0L, -1L,
      Long.MinValue, Long.MaxValue, 1L, Long.MinValue / 2)
    val dec = TileCodec.riceDecode(TileCodec.riceEncode(extremes, 8), extremes.length, 8)
    assert(dec.toSeq == extremes.toSeq)
    // narrower widths: values within the width, adversarial alternation
    for (bp <- Seq(1, 2, 4)) {
      val bits = bp * 8
      val lo = -(1L << (bits - 1)); val hi = (1L << (bits - 1)) - 1
      val vs = Array.tabulate(130)(i => if (i % 2 == 0) lo else hi)
      val enc = TileCodec.riceEncode(vs, bp)
      assert(TileCodec.riceDecode(enc, vs.length, bp).toSeq == vs.toSeq)
    }
  }

  test("RICE round-trips random arrays (property)") {
    val genCase = for {
      bp <- Gen.oneOf(1, 2, 4, 8)
      n <- Gen.choose(0, 300)
      vs <- Gen.listOfN(n,
        Gen.choose(-(1L << (bp * 8 - 1)), (1L << (bp * 8 - 1)) - 1))
    } yield (bp, vs.toArray)
    check(Prop.forAll(genCase) { case (bp, vs) =>
      TileCodec.riceDecode(TileCodec.riceEncode(vs, bp), vs.length, bp)
        .toSeq == vs.toSeq
    }, n = 200)
  }

  test("RICE actually compresses smooth sequences") {
    val smooth = Array.tabulate(10000)(i => 1000L + i / 3)
    val enc = TileCodec.riceEncode(smooth, 8)
    assert(enc.length < smooth.length * 8 / 8,
      s"smooth 64-bit sequence compressed to ${enc.length} of ${smooth.length * 8}")
  }

  test("GZIP_2 shuffle round-trips and helps on doubles") {
    for (eb <- Seq(2, 4, 8)) {
      val raw = Array.tabulate(64 * eb)(i => (i * 31 % 251).toByte)
      assert(TileCodec.unshuffle(TileCodec.shuffle(raw, eb), eb).toSeq == raw.toSeq)
    }
    // doubles from a smooth series share sign/exponent bytes: the shuffled
    // gzip must beat plain gzip on the same bytes
    val bb = java.nio.ByteBuffer.allocate(5000 * 8)
    (0 until 5000).foreach(i => bb.putDouble(1.0 + i * 1e-6))
    val plain = TileCodec.gzipEncode(bb.array()).length
    val shuffled = TileCodec.gzipEncode(TileCodec.shuffle(bb.array(), 8)).length
    assert(shuffled < plain, s"GZIP_2 ($shuffled) not beating GZIP_1 ($plain)")
  }

  // ------------------------------------------------- end-to-end write/read

  private def fixtureDf(n: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      (i.toLong, i * 3, (i % 1000 - 500).toShort, 1.5 * i, (0.25f * i),
        s"name_$i")
    }.toDF("k", "j", "i16", "d", "e", "s")
      .repartition(5) // misaligned input partitions: the writer must realign
  }

  test("tiled write -> DSv2 read round-trips every supported type") {
    val n = 1000
    val path = Util.scratch("tiled_rt.fits")
    // tileLen 96 does not divide 1000: the last tile is partial
    FitsWriter.writeTiledDataFrame(path, fixtureDf(n), tileLen = 96,
      strLens = Map("s" -> 12))
    val back = spark.read.format("fits").load(path)
    assert(back.schema.map(f => (f.name, f.dataType)) == Seq(
      "k" -> LongType, "j" -> IntegerType, "i16" -> ShortType,
      "d" -> DoubleType, "e" -> FloatType, "s" -> StringType))
    val got = back.orderBy("k").collect()
    assert(got.length == n)
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == i && r.getInt(1) == i * 3 &&
        r.getShort(2) == (i % 1000 - 500).toShort &&
        r.getDouble(3) == 1.5 * i && r.getFloat(4) == 0.25f * i &&
        r.getString(5) == s"name_$i", s"row $i mangled")
    }
  }

  test("tiled header carries the convention cards and compression wins") {
    val path = Util.scratch("tiled_hdr.fits")
    FitsWriter.writeTiledDataFrame(path, fixtureDf(1000), tileLen = 128,
      strLens = Map("s" -> 12))
    val in = new java.io.DataInputStream(new java.io.FileInputStream(path))
    try {
      val (c1, _) = FitsFormat.readHeader(in) // primary
      assert(c1.contains("SIMPLE"))
      val (cards, _) = FitsFormat.readHeader(in)
      assert(cards("ZTABLE").trim == "T")
      assert(cards("ZTILELEN").trim.toInt == 128)
      assert(cards("ZNAXIS2").trim.toLong == 1000L)
      assert(cards("NAXIS2").trim.toLong == 8L) // ceil(1000/128) tiles
      assert(cards("ZFORM1").trim == "K" && cards("ZCTYP1").trim == "GRAFT_RICE_1")
      assert(cards("ZFORM4").trim == "D" && cards("ZCTYP4").trim == "GZIP_2")
      assert(cards("ZFORM6").trim == "12A" && cards("ZCTYP6").trim == "GZIP_1")
      // the compressed heap must be smaller than the logical data for this
      // smooth fixture (RICE on sequential ints, GZIP_2 on smooth doubles)
      val pcount = cards("PCOUNT").trim.toLong
      val logical = cards("ZNAXIS1").trim.toLong * 1000L
      assert(pcount < logical,
        s"no compression win: heap $pcount vs logical $logical")
    } finally in.close()
  }

  test("tiled scans split on tile boundaries and prune columns") {
    val path = Util.scratch("tiled_split.fits")
    FitsWriter.writeTiledDataFrame(path, fixtureDf(1000), tileLen = 100,
      strLens = Map("s" -> 12))
    // rowsPerSplit is LOGICAL rows, rounded up to whole tiles: 250 -> 3
    // tiles per split -> ceil(10/3) = 4 partitions
    val df = spark.read.format("fits").option("rowsPerSplit", "250").load(path)
    assert(df.rdd.getNumPartitions == 4,
      s"expected 4 tile-aligned splits, got ${df.rdd.getNumPartitions}")
    val sums = df.select(sum(col("k")), sum(col("j"))).head()
    assert(sums.getLong(0) == 499500L && sums.getLong(1) == 1498500L)
    // pruned scan: only (k, d) decompress; values must still line up
    val pruned = df.select("d", "k").where(col("k") < 10).orderBy("k").collect()
    assert(pruned.length == 10)
    pruned.zipWithIndex.foreach { case (r, i) =>
      assert(r.getDouble(0) == 1.5 * i && r.getLong(1) == i)
    }
  }

  test("zero-repeat ('0E') column in a tiled table decodes as NULL") {
    // a plain table yields NULL for a legal repeat==0 column (FITS 4.0
    // §7.3.1); the tiled path must agree instead of feeding a zero-length
    // decoded buffer to decodeElem. Hand-crafted: one tile, two logical
    // rows, col1 ZFORM '0E' (no heap bytes), col2 'J' NOCOMPRESS.
    import java.io.{DataOutputStream, FileOutputStream}
    import java.nio.charset.StandardCharsets
    def card(key: String, v: String): Array[Byte] =
      (key.padTo(8, ' ') + "= " + v.reverse.padTo(20, ' ').reverse)
        .padTo(80, ' ').getBytes(StandardCharsets.US_ASCII)
    val endCard = "END".padTo(80, ' ').getBytes(StandardCharsets.US_ASCII)
    val p = Util.scratch("tiled_zerorep.fits")
    val out = new DataOutputStream(new FileOutputStream(p))
    def pad(fill: Byte): Unit =
      out.write(Array.fill((2880 - out.size() % 2880) % 2880)(fill))
    Seq("SIMPLE" -> "T", "BITPIX" -> "8", "NAXIS" -> "0")
      .foreach { case (k, v) => out.write(card(k, v)) }
    out.write(endCard); pad(' '.toByte)
    Seq("XTENSION" -> "'BINTABLE'", "BITPIX" -> "8", "NAXIS" -> "2",
      "NAXIS1" -> "16", "NAXIS2" -> "1", "PCOUNT" -> "8", "GCOUNT" -> "1",
      "TFIELDS" -> "2", "ZTABLE" -> "T", "ZTILELEN" -> "2",
      "ZNAXIS1" -> "4", "ZNAXIS2" -> "2",
      "TTYPE1" -> "'empty'", "TFORM1" -> "'1PB(0)'", "ZFORM1" -> "'0E'",
      "TTYPE2" -> "'v'", "TFORM2" -> "'1PB(8)'", "ZFORM2" -> "'J'",
      "ZCTYP2" -> "'NOCOMPRESS'"
    ).foreach { case (k, v) => out.write(card(k, v)) }
    out.write(endCard); pad(' '.toByte)
    val rec = java.nio.ByteBuffer.allocate(24)
    rec.putInt(0); rec.putInt(0)  // col1 descriptor: 0 bytes at offset 0
    rec.putInt(8); rec.putInt(0)  // col2 descriptor: 8 bytes at offset 0
    rec.putInt(11); rec.putInt(22) // heap (THEAP default = 16): two int32
    out.write(rec.array()); pad(0.toByte)
    out.close()
    val rows = spark.read.format("fits").load(p).orderBy("v").collect()
    assert(rows.length == 2)
    assert(rows.forall(_.isNullAt(0)), "tiled zero-repeat cell must be NULL")
    assert(rows.map(_.getInt(1)).toSeq == Seq(11, 22),
      "neighbor column must decode its own heap bytes")
  }

  test("tiled round-trip survives randomized contents (property)") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(1, 400)
      tileLen <- Gen.choose(1, 64)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (n, tileLen, seed)
    check(Prop.forAll(gen) { case (n, tileLen, seed) =>
      val rnd = new scala.util.Random(seed)
      val rows = (0 until n).map { i =>
        (i.toLong, rnd.nextLong(), rnd.nextDouble(),
          rnd.alphanumeric.take(rnd.nextInt(10)).mkString)
      }
      val path = Util.scratch(s"tiled_prop_${n}_$tileLen.fits")
      FitsWriter.writeTiledDataFrame(path,
        rows.toDF("idx", "v", "x", "s").repartition(3), tileLen,
        strLens = Map("s" -> 10))
      val back = spark.read.format("fits").load(path)
        .orderBy("idx").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
      back.toSeq == rows.sortBy(_._1)
    }, n = 8)
  }

  test("tiled writer refuses what it cannot represent") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      FitsWriter.writeTiledDataFrame(Util.scratch("tiled_bad.fits"),
        Seq((1L, Seq(1.0))).toDF("k", "arr"), tileLen = 10)
    }
    val ex = intercept[org.apache.spark.SparkException] {
      FitsWriter.writeTiledDataFrame(Util.scratch("tiled_null.fits"),
        Seq((java.lang.Long.valueOf(1L), "a"), (null.asInstanceOf[java.lang.Long], "b"))
          .toDF("k", "s"), tileLen = 10)
    }
    assert(ex.getMessage.contains("NULL") ||
      Option(ex.getCause).exists(_.getMessage.contains("NULL")))
    // non-ASCII text would silently round-trip as '?' through the US_ASCII
    // encoder — must fail loudly instead (r4 ADVICE)
    val ex2 = intercept[org.apache.spark.SparkException] {
      FitsWriter.writeTiledDataFrame(Util.scratch("tiled_nonascii.fits"),
        Seq((1L, "café")).toDF("k", "s"), tileLen = 10,
        strLens = Map("s" -> 8))
    }
    assert(ex2.getMessage.contains("non-ASCII") ||
      Option(ex2.getCause).exists(_.getMessage.contains("non-ASCII")))
  }

  // ------------------------------------------ tile-compressed IMAGE (a27)

  test("a27: compressed image decodes to the SAME rows as a19's plain raster") {
    // the layout-independence gate in miniature: both ops emit identical
    // per-row stats over the one planted frame, so collected results must
    // match row-for-row (the sf0.01 hash gate proves it against DuckDB)
    val plain = ops.ScanOps.a19_fits_image_source.fn(spark, sfDir).collect()
    val tiled = ops.ScanOps.a27_fits_image_tiled.fn(spark, sfDir).collect()
    assert(tiled.length == plain.length && tiled.length > 0)
    assert(tiled.map(_.toSeq).toSeq == plain.map(_.toSeq).toSeq)
  }

  test("a27: compressed-image headers carry the ZIMAGE convention and compress") {
    val p = Util.scratch("ztiled_hdr.fits")
    FitsWriter.writeTiledImageFits(p, 64, 300L, tileRows = 64)
    val raf = new java.io.RandomAccessFile(p, "r")
    try {
      raf.seek(0)
      val s1 = FitsFormat.locateTiledImage(raf, 0)
      raf.seek(0)
      val s2 = FitsFormat.locateTiledImage(raf, 1)
      assert(s1.zbitpix == 16 && s1.cmpType == "GRAFT_RICE_1" &&
        s1.blank.contains(250L) && s1.bscale == 2.0 && s1.bzero == 100.0)
      assert(s2.zbitpix == -32 && s2.cmpType == "GZIP_2" && s2.blank.isEmpty)
      assert(s1.nTiles == 5 && s1.rowsInTile(4) == 44) // short last band
      // a plain IMAGE walk must NOT see the compressed bintables
      raf.seek(0)
      intercept[IllegalArgumentException](FitsFormat.locateImage(raf, 0))
    } finally raf.close()
    val plainP = Util.scratch("ztiled_hdr_plain.fits")
    FitsWriter.writeImageFits(plainP, 64, 300L)
    val cSize = new java.io.File(p).length
    val pSize = new java.io.File(plainP).length
    assert(cSize < pSize, s"compressed $cSize >= plain $pSize")
  }

  test("a27: tile geometry round-trips at adversarial heights (property)") {
    val genCase = for {
      height <- Gen.choose(1, 400)
      tileRows <- Gen.oneOf(1, 3, 17, 64, 500) // incl. one-band and 1-row tiles
    } yield (height, tileRows)
    check(Prop.forAll(genCase) { case (height, tileRows) =>
      val p = Util.scratch(s"ztiled_prop_${height}_$tileRows.fits")
      FitsWriter.writeTiledImageFits(p, 16, height.toLong, tileRows)
      val raf = new java.io.RandomAccessFile(p, "r")
      try {
        raf.seek(0)
        val sp = FitsFormat.locateTiledImage(raf, 0)
        // decode EVERY tile and compare every pixel to the closed form
        val ok = (0L until sp.nTiles).forall { t =>
          val desc = new Array[Byte](8)
          raf.seek(sp.descOffset(t)); raf.readFully(desc)
          val db = java.nio.ByteBuffer.wrap(desc)
          val blob = new Array[Byte](db.getInt(0))
          raf.seek(sp.heapStart + db.getInt(4)); raf.readFully(blob)
          val rows = sp.rowsInTile(t)
          val raw = TileCodec.decodeCell(sp.cmpType, blob, rows * 16, 2)
          val bb = java.nio.ByteBuffer.wrap(raw)
          (0 until rows * 16).forall { i =>
            val y = t * sp.tileRows + i / 16
            bb.getShort(i * 2).toLong == FitsWriter.imageRaw(i % 16, y)
          }
        }
        ok && sp.height == height.toLong
      } finally raf.close()
    }, n = 40)
  }

  test("a30: compressed cutout renders the SAME pixels as a20's plain cutout") {
    // layout-independence on the cutout axis: both ops emit the same
    // (y, px) dump, so collected results must match row-for-row
    val plain = ops.ScanOps.a20_fits_image_cutout.fn(spark, sfDir).collect()
    val tiled = ops.ScanOps.a30_fits_image_tiled_cutout.fn(spark, sfDir).collect()
    assert(tiled.length == plain.length && tiled.length > 0)
    assert(tiled.map(_.toSeq).toSeq == plain.map(_.toSeq).toSeq)
  }

  test("a31: compressed cube decodes to the SAME rows as a25's plain cube") {
    // layout-independence on the CUBE axis: both ops emit the same
    // (hdu, z, y, stats) dump, so collected results must match
    val plain = ops.ScanOps.a25_fits_cube_source.fn(spark, sfDir).collect()
    val tiled = ops.ScanOps.a31_fits_cube_tiled.fn(spark, sfDir).collect()
    assert(tiled.length == plain.length && tiled.length > 0)
    assert(tiled.map(_.toSeq).toSeq == plain.map(_.toSeq).toSeq)
  }

  test("a31: cube tile geometry round-trips at adversarial shapes (property)") {
    val genCase = for {
      width <- Gen.choose(1, 24)
      height <- Gen.choose(1, 40)
      depth <- Gen.choose(1, 5)
      tileRows <- Gen.oneOf(1, 3, 7, 64) // incl. one-band and 1-row tiles
    } yield (width, height, depth, tileRows)
    check(Prop.forAll(genCase) { case (width, height, depth, tileRows) =>
      val p = Util.scratch(s"ztcube_prop_${width}_${height}_${depth}_$tileRows.fits")
      FitsWriter.writeTiledCubeFits(p, width, height.toLong, depth.toLong, tileRows)
      val raf = new java.io.RandomAccessFile(p, "r")
      try {
        // every extension, every tile, every voxel against the closed form
        (0 until 4).forall { ext =>
          raf.seek(0)
          val sp = FitsFormat.locateTiledImage(raf, ext)
          val geomOk = sp.depth == depth.toLong &&
            sp.nTiles == depth * sp.tilesPerPlane && sp.height == height.toLong
          geomOk && (0L until sp.nTiles).forall { t =>
            val desc = new Array[Byte](8)
            raf.seek(sp.descOffset(t)); raf.readFully(desc)
            val db = java.nio.ByteBuffer.wrap(desc)
            val blob = new Array[Byte](db.getInt(0))
            raf.seek(sp.heapStart + db.getInt(4)); raf.readFully(blob)
            val rows = sp.rowsInTile(t)
            val raw = TileCodec.decodeCell(sp.cmpType, blob,
              rows * width, sp.bytesPerPx)
            val bb = java.nio.ByteBuffer.wrap(raw)
            val z = sp.planeOf(t)
            val y0 = sp.firstRowInPlane(t)
            (0 until rows * width).forall { i =>
              val y = y0 + i / width
              val r = FitsWriter.cubeRaw(i % width, y, z)
              sp.zbitpix match {
                case 8 => (raw(i) & 0xff).toLong == r
                case 32 => bb.getInt(i * 4).toLong == r
                case 64 => bb.getLong(i * 8) == r * 2654435761L
                case -64 =>
                  val v = bb.getDouble(i * 8)
                  if (r == 250) v.isNaN else v == r / 8.0
              }
            }
          }
        }
      } finally raf.close()
    }, n = 30)
  }

  test("a28: executor-side tiled-image export round-trips; writer refuses bad frames") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    // distributed build -> parallel export -> locate -> decode == closed form
    val h = 150L
    val p = Util.scratch("ztsink_rt.fits")
    val rows = spark.range(0, h, 1, 5).select(col("id").as("y"),
      expr("transform(sequence(0, 15), x -> (3 * y + 5 * x + 7) % 251)").as("px"))
    FitsWriter.writeTiledImageDataFrame(p, rows, 16, 32,
      Seq("BSCALE" -> "2", "BZERO" -> "100", "ZBLANK" -> "250"))
    val raf = new java.io.RandomAccessFile(p, "r")
    try {
      raf.seek(0)
      val sp = FitsFormat.locateTiledImage(raf, 0)
      assert(sp.height == h && sp.nTiles == 5 && sp.rowsInTile(4) == 22)
      assert(sp.bscale == 2.0 && sp.blank.contains(250L))
      val ok = (0L until sp.nTiles).forall { t =>
        val desc = new Array[Byte](8)
        raf.seek(sp.descOffset(t)); raf.readFully(desc)
        val db = java.nio.ByteBuffer.wrap(desc)
        val blob = new Array[Byte](db.getInt(0))
        raf.seek(sp.heapStart + db.getInt(4)); raf.readFully(blob)
        val n = sp.rowsInTile(t)
        val raw = TileCodec.decodeCell(sp.cmpType, blob, n * 16, 2)
        val bb = java.nio.ByteBuffer.wrap(raw)
        (0 until n * 16).forall { i =>
          bb.getShort(i * 2).toLong ==
            FitsWriter.imageRaw(i % 16, t * sp.tileRows + i / 16)
        }
      }
      assert(ok, "distributed export diverges from the closed form")
    } finally raf.close()
    // refusals: a y gap, a wrong-width row, an out-of-range pixel — each
    // must fail LOUDLY (silent acceptance would shear or corrupt tiles)
    def fails(df: org.apache.spark.sql.DataFrame): Boolean =
      intercept[Exception] {
        FitsWriter.writeTiledImageDataFrame(
          Util.scratch("ztsink_bad.fits"), df, 16, 32)
      } != null
    val gap = spark.range(0, 10).filter(col("id") =!= 3)
      .select(col("id").as("y"),
        expr("transform(sequence(0, 15), x -> CAST(1 AS BIGINT))").as("px"))
    assert(fails(gap))
    val narrow = spark.range(0, 10).select(col("id").as("y"),
      expr("transform(sequence(0, 7), x -> CAST(1 AS BIGINT))").as("px"))
    assert(fails(narrow))
    val wide = spark.range(0, 10).select(col("id").as("y"),
      expr("transform(sequence(0, 15), x -> CAST(99999 AS BIGINT))").as("px"))
    assert(fails(wide))
  }

  test("a29: quantized floats decode within ZSCALE/2 of truth; layout self-describes") {
    val p = Util.scratch("qfloat_rt.fits")
    FitsWriter.writeQuantizedImageFits(p, 32, 200L, tileRows = 64)
    val raf = new java.io.RandomAccessFile(p, "r")
    try {
      raf.seek(0)
      val sp = FitsFormat.locateTiledImage(raf, 0)
      assert(sp.quant && sp.recordBytes == 24 && sp.zbitpix == -32 &&
        sp.blank.contains(-1L) && sp.cmpType == "GRAFT_RICE_1")
      var worst = 0.0
      (0L until sp.nTiles).foreach { t =>
        val rec = new Array[Byte](24)
        raf.seek(sp.descOffset(t)); raf.readFully(rec)
        val rb = java.nio.ByteBuffer.wrap(rec)
        val blob = new Array[Byte](rb.getInt(0))
        val zscale = rb.getDouble(8); val zzero = rb.getDouble(16)
        raf.seek(sp.heapStart + rb.getInt(4)); raf.readFully(blob)
        val n = sp.rowsInTile(t)
        val raw = TileCodec.decodeCell(sp.cmpType, blob, n * 32, 2)
        val bb = java.nio.ByteBuffer.wrap(raw)
        (0 until n * 32).foreach { i =>
          val y = t * sp.tileRows + i / 32
          val truth = FitsWriter.imageRaw(i % 32, y)
          val q = bb.getShort(i * 2).toLong
          if (truth == 250) assert(q == -1L, s"NaN pixel not ZBLANK at ($i, $y)")
          else {
            // the LOSSY guarantee: |decoded − v| ≤ ZSCALE/2, and codes
            // stay inside the 14-bit level range
            assert(q >= 0 && q <= 16383, s"code $q outside the level range")
            val v = (truth / 4.0f).toDouble
            val dec = zzero + q.toDouble * zscale
            val err = math.abs(dec - v)
            assert(err <= zscale / 2 + 1e-12, s"err $err > zscale/2 ${zscale / 2}")
            if (err > worst) worst = err
          }
        }
      }
      assert(worst > 0.0, "vacuous: quantizer introduced zero error everywhere")
    } finally raf.close()
    // the plain (non-quant) layout still locates beside it
    val plainP = Util.scratch("qfloat_plain.fits")
    FitsWriter.writeTiledImageFits(plainP, 32, 100L, 64)
    val raf2 = new java.io.RandomAccessFile(plainP, "r")
    try {
      raf2.seek(0)
      val sp2 = FitsFormat.locateTiledImage(raf2, 0)
      assert(!sp2.quant && sp2.recordBytes == 8)
    } finally raf2.close()
  }

  test("locate walks skip each other's shapes in a MIXED archive file") {
    // one file: header-only primary + plain IMAGE + tiled-image BINTABLE
    // + quantized-image BINTABLE — the mixed-extension archive shape.
    // Each locate function must find ITS extensions and walk over the
    // others' (the ZIMAGE/XTENSION predicates, exercised side by side).
    val p1 = Util.scratch("mix_plain.fits")
    val p2 = Util.scratch("mix_tiled.fits")
    val p3 = Util.scratch("mix_quant.fits")
    FitsWriter.writeImageFits(p1, 16, 40L)       // primary + 2 plain IMAGE
    FitsWriter.writeTiledImageFits(p2, 16, 40L, 8) // primary + 2 tiled
    FitsWriter.writeQuantizedImageFits(p3, 16, 40L, 8) // primary + 1 quant
    def bytes(p: String): Array[Byte] =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    // strip the header-only primary (2880 B) when concatenating
    val mixed = Util.scratch("mix_all.fits")
    val out = java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(mixed))
    try {
      out.write(bytes(p1)) // primary + plain ext #0, #1
      out.write(bytes(p2).drop(2880)) // tiled ext #0, #1
      out.write(bytes(p3).drop(2880)) // quant ext (a tiled-image too)
    } finally out.close()
    val raf = new java.io.RandomAccessFile(mixed, "r")
    try {
      raf.seek(0)
      val plain0 = FitsFormat.locateImage(raf, 0)
      assert(plain0.bitpix == 16 && plain0.height == 40L)
      raf.seek(0)
      val plain1 = FitsFormat.locateImage(raf, 1)
      assert(plain1.bitpix == -32)
      raf.seek(0)
      intercept[IllegalArgumentException](FitsFormat.locateImage(raf, 2))
      // tiled walk: finds the two ZTABLE-free ZIMAGE bintables from p2,
      // then p3's quantized one as tiled image #2
      raf.seek(0)
      val t0 = FitsFormat.locateTiledImage(raf, 0)
      assert(t0.zbitpix == 16 && !t0.quant && t0.cmpType == "GRAFT_RICE_1")
      raf.seek(0)
      val t1 = FitsFormat.locateTiledImage(raf, 1)
      assert(t1.zbitpix == -32 && !t1.quant && t1.cmpType == "GZIP_2")
      raf.seek(0)
      val t2 = FitsFormat.locateTiledImage(raf, 2)
      assert(t2.quant && t2.recordBytes == 24 && t2.blank.contains(-1L))
      raf.seek(0)
      intercept[IllegalArgumentException](FitsFormat.locateTiledImage(raf, 3))
      // and a tile from the DEEPEST extension decodes to the closed form
      val rec = new Array[Byte](24)
      raf.seek(t2.descOffset(1)); raf.readFully(rec)
      val rb = java.nio.ByteBuffer.wrap(rec)
      val blob = new Array[Byte](rb.getInt(0))
      val zscale = rb.getDouble(8); val zzero = rb.getDouble(16)
      raf.seek(t2.heapStart + rb.getInt(4)); raf.readFully(blob)
      val n = t2.rowsInTile(1)
      val raw = TileCodec.decodeCell(t2.cmpType, blob, n * 16, 2)
      val bb = java.nio.ByteBuffer.wrap(raw)
      (0 until n * 16).foreach { i =>
        val truth = FitsWriter.imageRaw(i % 16, 1L * t2.tileRows + i / 16)
        val q = bb.getShort(i * 2).toLong
        if (truth == 250) assert(q == -1L)
        else {
          val dec = zzero + q.toDouble * zscale
          assert(math.abs(dec - truth / 4.0) <= zscale / 2 + 1e-12)
        }
      }
    } finally raf.close()
  }

  test("a29: quantizer round-trips at adversarial geometries (property)") {
    val genCase = for {
      height <- Gen.choose(1, 300)
      tileRows <- Gen.oneOf(1, 5, 64, 400)
      // width ≥ 2: at width 1 a 1-row tile CAN be all-sentinel (y ≡ 81
      // mod 251 makes its only pixel NaN) and the writer rejects all-NaN
      // tiles by design; with ≥ 2 pixels per row, x → raw is injective
      // so a tile always keeps a valid pixel
      width <- Gen.oneOf(2, 7, 16)
    } yield (height, tileRows, width)
    check(Prop.forAll(genCase) { case (height, tileRows, width) =>
      val p = Util.scratch(s"qfloat_prop_${height}_${tileRows}_$width.fits")
      FitsWriter.writeQuantizedImageFits(p, width, height.toLong, tileRows)
      val raf = new java.io.RandomAccessFile(p, "r")
      try {
        raf.seek(0)
        val sp = FitsFormat.locateTiledImage(raf, 0)
        sp.quant && sp.height == height.toLong && (0L until sp.nTiles).forall { t =>
          val rec = new Array[Byte](24)
          raf.seek(sp.descOffset(t)); raf.readFully(rec)
          val rb = java.nio.ByteBuffer.wrap(rec)
          val blob = new Array[Byte](rb.getInt(0))
          val zscale = rb.getDouble(8); val zzero = rb.getDouble(16)
          raf.seek(sp.heapStart + rb.getInt(4)); raf.readFully(blob)
          val n = sp.rowsInTile(t)
          val raw = TileCodec.decodeCell(sp.cmpType, blob, n * width, 2)
          val bb = java.nio.ByteBuffer.wrap(raw)
          (0 until n * width).forall { i =>
            val truth = FitsWriter.imageRaw(i % width, t * sp.tileRows + i / width)
            val q = bb.getShort(i * 2).toLong
            if (truth == 250) q == -1L
            else q >= 0 && q <= 16383 &&
              math.abs(zzero + q.toDouble * zscale - truth / 4.0) <= zscale / 2 + 1e-12
          }
        }
      } finally raf.close()
    }, n = 30)
  }

  test("PLIO-class RLE round-trips arbitrary label arrays (property)") {
    val gen = Gen.listOf(Gen.oneOf(
      Gen.choose(0L, 3L),                      // mask labels (runs)
      Gen.choose(Long.MinValue, Long.MaxValue) // full-range breakers
    )).map(_.toArray)
    check(Prop.forAll(gen) { vals =>
      TileCodec.rleDecode(TileCodec.rleEncode(vals), vals.length)
        .sameElements(vals)
    })
  }

  test("a32: PLIO-class coder actually compresses the planted mask; label honesty holds") {
    // one 64-row band of the planted mask: 8K raw int16 bytes
    val vals = Array.tabulate(64 * 64)(i =>
      FitsWriter.maskRaw(i % 64, i / 64))
    val raw = TileCodec.longsToBytes(vals, 2)
    val blob = TileCodec.encodeCell("GRAFT_PLIO_1", raw, 2)
    assert(blob.length * 4 < raw.length,
      s"mask RLE should win >=4x on the planted mask: ${blob.length} vs ${raw.length}")
    assert(TileCodec.decodeCell("GRAFT_PLIO_1", blob, vals.length, 2)
      .sameElements(raw))
    // the standard PLIO_1 label is rejected, not silently mis-decoded
    // (the RICE_1 interop-honesty rule)
    val e1 = intercept[IllegalArgumentException](
      TileCodec.encodeCell("PLIO_1", raw, 2))
    val e2 = intercept[IllegalArgumentException](
      TileCodec.decodeCell("PLIO_1", blob, vals.length, 2))
    assert(e1.getMessage.contains("GRAFT_PLIO_1") &&
      e2.getMessage.contains("funpack"))
    // a truncated or trailing-garbage stream fails loudly
    intercept[Exception](TileCodec.rleDecode(blob.dropRight(1), vals.length))
    intercept[Exception](TileCodec.rleDecode(blob :+ 0.toByte, vals.length))
  }

  test("a32: mask tile geometry round-trips at adversarial heights (property)") {
    val genCase = for {
      height <- Gen.choose(1, 300)
      tileRows <- Gen.oneOf(1, 5, 64, 400) // incl. one-band and 1-row tiles
    } yield (height, tileRows)
    check(Prop.forAll(genCase) { case (height, tileRows) =>
      val p = Util.scratch(s"mask_prop_${height}_$tileRows.fits")
      FitsWriter.writeMaskImageFits(p, 16, height.toLong, tileRows)
      val raf = new java.io.RandomAccessFile(p, "r")
      try {
        raf.seek(0)
        val sp = FitsFormat.locateTiledImage(raf, 0)
        sp.cmpType == "GRAFT_PLIO_1" && sp.height == height.toLong &&
          (0L until sp.nTiles).forall { t =>
            val desc = new Array[Byte](8)
            raf.seek(sp.descOffset(t)); raf.readFully(desc)
            val db = java.nio.ByteBuffer.wrap(desc)
            val blob = new Array[Byte](db.getInt(0))
            raf.seek(sp.heapStart + db.getInt(4)); raf.readFully(blob)
            val rows = sp.rowsInTile(t)
            val raw = TileCodec.decodeCell(sp.cmpType, blob, rows * 16, 2)
            val bb = java.nio.ByteBuffer.wrap(raw)
            (0 until rows * 16).forall { i =>
              val y = t * sp.tileRows + i / 16
              bb.getShort(i * 2).toLong == FitsWriter.maskRaw(i % 16, y)
            }
          }
      } finally raf.close()
    }, n = 40)
  }

  test("H-transform round-trips exactly at arbitrary dims (property)") {
    val genCase = for {
      w <- Gen.choose(1, 40)
      h <- Gen.choose(1, 40)
      vals <- Gen.listOfN(w * h, Gen.choose(-20000L, 20000L))
    } yield (w, h, vals.toArray)
    check(Prop.forAll(genCase) { case (w, h, vals) =>
      val coef = vals.clone()
      TileCodec.htrans(coef, w, h)
      TileCodec.hinv(coef, w, h)
      coef.sameElements(vals) && {
        // and the full self-describing blob path round-trips too
        TileCodec.hcompDecode(TileCodec.hcompEncode(vals, w, h), w * h)
          .sameElements(vals)
      }
    }, n = 60)
  }

  test("a33: H-transform beats row-diff rice on a smooth 2-D ramp; label honesty holds") {
    // a smooth 2-D field (x + y ramp): the workload HCOMPRESS exists
    // for — 2-D decorrelation concentrates the signal into a handful
    // of coarse coefficients; assert the blob beats raw int16 by 2×
    // and round-trips exactly (the rice blob is built alongside as the
    // comparison artifact)
    val w = 64; val h = 64
    val vals = Array.tabulate(w * h)(i => ((i % w) + (i / w)).toLong * 7)
    val hblob = TileCodec.hcompEncode(vals, w, h)
    val rblob = TileCodec.encodeCell("GRAFT_RICE_1",
      TileCodec.longsToBytes(vals, 2), 2)
    assert(TileCodec.hcompDecode(hblob, w * h).sameElements(vals))
    assert(hblob.length * 2 < vals.length * 2,
      s"H-transform blob should beat raw int16 2x: ${hblob.length} vs ${vals.length * 2}")
    // the standard HCOMPRESS_1 label is rejected, not silently mis-decoded
    val e = intercept[IllegalArgumentException](
      TileCodec.decodeCell("HCOMPRESS_1", hblob, w * h, 2))
    assert(e.getMessage.contains("GRAFT_HCOMP_1"))
    // geometry mismatch between blob and tile fails loudly
    intercept[IllegalArgumentException](
      TileCodec.hcompDecode(hblob, w * h - 1))
    // a product-preserving but TRANSPOSED blob is rejected when the
    // caller pins the tile spec's dims (ADVICE r10: product check alone
    // admits re-factored geometry and hinv runs with the wrong shape)
    val vals2 = Array.tabulate(32 * 8)(i => ((i % 32) + (i / 32)).toLong)
    val transposed = TileCodec.hcompEncode(vals2, 8, 32) // blob says 8x32
    assert(TileCodec.hcompDecode(transposed, 32 * 8,
      Some((8, 32))).sameElements(vals2)) // sanity: matching spec passes
    val g = intercept[IllegalArgumentException](
      TileCodec.hcompDecode(transposed, 32 * 8, Some((32, 8))))
    assert(g.getMessage.contains("tile spec"))
    assert(rblob.length > 0) // rice comparison blob built (receipt below)
  }

  test("a34: Wcs.axisRange equals the brute-force center filter over fuzzed geometries (property)") {
    // arbitrary linear geometries: integer CRPIX in [-100, 100], dyadic
    // CRVAL (k/256), CDELT = ±2^-e — the planted-card class, both signs
    // (RA axes run negative), with world boxes built from arbitrary
    // dyadics so endpoints fall ON and BETWEEN pixel centers
    val genCase = for {
      crpix <- Gen.choose(-100, 100).map(_.toDouble)
      crval <- Gen.choose(-512 * 256, 512 * 256).map(_ / 256.0)
      e <- Gen.choose(4, 10)
      sign <- Gen.oneOf(-1.0, 1.0)
      n <- Gen.choose(1L, 300L)
      a <- Gen.choose(-1024 * 256, 1024 * 256).map(_ / 1024.0 / 256.0)
      b <- Gen.choose(-1024 * 256, 1024 * 256).map(_ / 1024.0 / 256.0)
    } yield (crpix, crval, sign * math.pow(2.0, -e), n,
      crval + math.min(a, b), crval + math.max(a, b))
    check(Prop.forAll(genCase) { case (crpix, crval, cdelt, n, wLo, wHi) =>
      val wcs = FitsFormat.Wcs(crpix, crval, cdelt, crpix, crval, cdelt)
      val brute = (1L to n).filter { p =>
        val w = crval + (p - crpix) * cdelt
        wLo <= w && w <= wHi
      }
      // centers form a contiguous run on a linear axis, so min/max IS
      // the range — and axisRange must reproduce it exactly (or None)
      wcs.xRange(wLo, wHi, n) match {
        case Some((lo, hi)) =>
          brute.nonEmpty && lo == brute.min - 1 && hi == brute.max - 1
        case None => brute.isEmpty
      }
    }, n = 200)
  }

  test("a35: the cube's spectral WCS axis parses back, inverts exactly, and degrades without it") {
    val p = Util.scratch("wcs_cube_roundtrip.fits")
    FitsWriter.writeCubeFits(p, 64, 64L, 10L)
    val raf = new java.io.RandomAccessFile(p, "r")
    try {
      raf.seek(0)
      val sp = FitsFormat.locateImage(raf, 1) // the int32 ext carries WCS
      val wcs = sp.wcs.getOrElse(fail("int32 cube ext lost its WCS cards"))
      assert(wcs.axis3.contains((1.0, 1000.0, 0.5)))
      // forward: plane z's velocity; inverse: the velocity box of
      // planes 1..8 (0-based) — closed box on plane centers, exact
      assert(wcs.world3(0L) == 1000.0 && wcs.world3(9L) == 1004.5)
      assert(wcs.zRange(1000.5, 1004.0, 10L) == Some((1L, 8L)))
      // a box past the cube's spectral extent clamps / misses
      assert(wcs.zRange(1004.75, 1010.0, 10L).isEmpty)
      // the int8 ext plants NO WCS: the 2-axis accessor refuses loudly
      // and zRange degrades to None (partial-WCS refusal on axis 3)
      raf.seek(0)
      val sp8 = FitsFormat.locateImage(raf, 0)
      assert(sp8.wcs.isEmpty)
      val noA3 = wcs.copy(axis3 = None)
      assert(noA3.zRange(1000.5, 1004.0, 10L).isEmpty)
      assertThrows[IllegalArgumentException](noA3.world3(0L))
    } finally raf.close()
  }

  test("a34: the writer's planted WCS parses back and inverts the a30 window exactly") {
    val p = Util.scratch("wcs_roundtrip.fits")
    FitsWriter.writeTiledImageFits(p, 64, 128L, 64)
    val raf = new java.io.RandomAccessFile(p, "r")
    try {
      raf.seek(0)
      val sp = FitsFormat.locateTiledImage(raf, 0)
      val wcs = sp.wcs.getOrElse(fail("tiled int16 ext lost its WCS cards"))
      assert(wcs == FitsFormat.Wcs(32.0, 180.0, -0.00390625, 1.0, -10.0, 0.00390625))
      // the a34 box inverts to a30's pixel window on this 128-row frame
      assert(wcs.xRange(180.0 - 16.0 / 256, 180.0 + 15.0 / 256, 64) ==
        Some((16L, 47L)))
      assert(wcs.yRange(-10.0 + 32.0 / 256, -10.0 + 63.0 / 256, 128) ==
        Some((32L, 63L)))
      // forward transform of the first cutout row is the box edge
      assert(wcs.world2(32L) == -10.0 + 32.0 / 256)
      // a box wholly off the frame is None, not a clamped sliver
      assert(wcs.yRange(10.0, 11.0, 128).isEmpty)
      // the float ext carries no WCS -> a sky cutout on it must refuse
      raf.seek(0)
      assert(FitsFormat.locateTiledImage(raf, 1).wcs.isEmpty)
    } finally raf.close()
    // a MALFORMED numeric card degrades the advisory metadata to
    // wcs=None instead of crashing every plain pixel read (r11 review:
    // imageSpec parses WCS unconditionally, so a junk CRPIX1 in a real
    // archive header must not take down non-sky reads)
    val base = Map("NAXIS" -> "2", "BITPIX" -> "16",
      "NAXIS1" -> "4", "NAXIS2" -> "4",
      "CRPIX1" -> "junk", "CRVAL1" -> "180.0", "CDELT1" -> "-0.00390625",
      "CRPIX2" -> "1.0", "CRVAL2" -> "-10.0", "CDELT2" -> "0.00390625")
    assert(FitsFormat.imageSpec(base, 0L).wcs.isEmpty)
    // and a PARTIAL set (missing CDELT2) is also None, not a guess
    assert(FitsFormat.imageSpec(base.updated("CRPIX1", "32.0") - "CDELT2", 0L)
      .wcs.isEmpty)
  }

  test("varint wrap guard: a hostile 10+-byte varint fails loudly in both coders") {
    // eleven 0x80 continuation bytes: shift reaches 70 and would wrap
    // mod 64, silently decoding garbage before the r11 guard
    val hostile = Array.fill[Byte](11)(0x80.toByte) :+ 0x01.toByte
    val e1 = intercept[IllegalArgumentException](
      TileCodec.rleDecode(hostile, 4))
    assert(e1.getMessage.contains("varint"))
    val e2 = intercept[IllegalArgumentException](
      TileCodec.hcompDecode(hostile, 4))
    assert(e2.getMessage.contains("varint"))
  }

  test("a33: hcomp-coded quantized image decodes to the SAME rows as a29's rice-coded one") {
    // codec-axis layout independence: two lossless codings of the same
    // quantized raster must emit identical stats row-for-row
    val rice = ops.ScanOps.a29_fits_image_qfloat.fn(spark, sfDir).collect()
    val hcmp = ops.ScanOps.a33_fits_image_hcomp.fn(spark, sfDir).collect()
    assert(hcmp.length == rice.length && hcmp.length > 0)
    assert(hcmp.map(_.toSeq).toSeq == rice.map(_.toSeq).toSeq)
  }

  test("the standard RICE_1 label is rejected, not silently mis-decoded") {
    // this engine's Rice layout is private (GRAFT_RICE_1); a genuine fpack
    // file carrying ZCTYP='RICE_1' must error, since Rice streams have no
    // checksum and would decode to garbage (r4 ADVICE, medium)
    val raw = Array.tabulate(64)(_.toByte)
    val e1 = intercept[IllegalArgumentException] {
      TileCodec.encodeCell("RICE_1", raw, 4)
    }
    assert(e1.getMessage.contains("GRAFT_RICE_1"))
    val e2 = intercept[IllegalArgumentException] {
      TileCodec.decodeCell("RICE_1", raw, 16, 4)
    }
    assert(e2.getMessage.contains("GRAFT_RICE_1"))
  }
}
