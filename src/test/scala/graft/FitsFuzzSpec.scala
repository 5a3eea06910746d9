package graft

import graft.fits.{FitsFormat, FitsWriter}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based FITS header + round-trip fuzzing (raw ScalaCheck — the
  * scalatest bridge is not on the offline classpath). Valid random card
  * sets must parse to consistent specs and round-trip through the writer;
  * malformed cards must raise IllegalArgumentException, never NPE or a
  * mis-parsed spec.
  */
class FitsFuzzSpec extends SparkTestBase {

  private def check(prop: Prop, n: Int = 200): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  private val scalarCodes = "LBIJKAED".toSeq // fixed-width, writer-agnostic

  test("random valid TFORMs (with legal junk tails) parse to (code, repeat)") {
    val tail = Gen.oneOf("", ".4", "E2", "14.7", "x")
    val fixed = for {
      rep <- Gen.option(Gen.choose(0, 999))
      c <- Gen.oneOf("LXBIJKAEDCM".toSeq)
      t <- tail
    } yield (s"${rep.map(_.toString).getOrElse("")}$c$t", c, rep.getOrElse(1))
    val prop = Prop.forAll(fixed) { case (tform, c, rep) =>
      val (code, repeat, varDesc) = FitsFormat.parseTform(tform)
      code == c && repeat == rep && varDesc.isEmpty
    }
    check(prop)
  }

  test("random var-length TFORMs parse descriptor and max") {
    val varG = for {
      pq <- Gen.oneOf('P', 'Q')
      c <- Gen.oneOf("LXBIJKAEDCM".toSeq)
      max <- Gen.option(Gen.choose(0, 9999))
    } yield (s"1$pq$c${max.map(m => s"($m)").getOrElse("")}", pq, c, max.getOrElse(0))
    check(Prop.forAll(varG) { case (tform, pq, c, max) =>
      FitsFormat.parseTform(tform) == ((c, max, Some(pq)))
    })
  }

  test("garbage TFORMs raise IllegalArgumentException, never NPE") {
    check(Prop.forAll(Gen.alphaNumStr) { s =>
      try { FitsFormat.parseTform(s); true }
      catch {
        case _: IllegalArgumentException => true
        case _: Throwable => false
      }
    })
  }

  /** One random BINTABLE column: (code, repeat, optional TSCAL/TZERO). */
  private val colGen: Gen[(Char, Int, Option[(Double, Double)])] = for {
    c <- Gen.oneOf(scalarCodes)
    rep <- if (c == 'A') Gen.choose(1, 24) else Gen.choose(1, 4)
    scaled <- if ("BIJKED".contains(c)) Gen.option(
      Gen.zip(Gen.choose(1, 4).map(_.toDouble), Gen.choose(-10, 10).map(_.toDouble)))
    else Gen.const(None)
  } yield (c, rep, scaled)

  private def cardsFor(cols: Seq[(Char, Int, Option[(Double, Double)])],
      nRows: Int): Map[String, String] = {
    val widths = cols.map { case (c, rep, _) => FitsFormat.parseTform(s"$rep$c") match {
      case _ => rep * (c match {
        case 'L' | 'B' | 'A' => 1; case 'I' => 2; case 'J' | 'E' => 4; case _ => 8
      })
    }}
    Map("XTENSION" -> "BINTABLE", "NAXIS1" -> widths.sum.toString,
      "NAXIS2" -> nRows.toString, "TFIELDS" -> cols.length.toString) ++
      cols.zipWithIndex.flatMap { case ((c, rep, sc), i) =>
        Seq(s"TTYPE${i + 1}" -> s"col_$i", s"TFORM${i + 1}" -> s"$rep$c") ++
          sc.toSeq.flatMap { case (s, z) =>
            Seq(s"TSCAL${i + 1}" -> s.toString, s"TZERO${i + 1}" -> z.toString) }
      }
  }

  test("random valid card sets parse to a consistent TableSpec") {
    val gen = for {
      cols <- Gen.nonEmptyListOf(colGen).map(_.take(8))
      n <- Gen.choose(0, 1000)
    } yield (cols, n)
    check(Prop.forAll(gen) { case (cols, n) =>
      val spec = FitsFormat.tableSpec(cardsFor(cols, n))
      spec.nRows == n && spec.cols.length == cols.length &&
        spec.rowBytes == spec.cols.map(_.byteWidth).sum &&
        spec.cols.map(_.name).distinct.length == cols.length
    }, n = 100)
  }

  test("corrupt NAXIS1 is rejected, not mis-sliced") {
    val gen = for {
      cols <- Gen.nonEmptyListOf(colGen).map(_.take(6))
      delta <- Gen.oneOf(-3, -2, -1, 1, 2, 3)
    } yield (cols, delta)
    check(Prop.forAll(gen) { case (cols, delta) =>
      val cards = cardsFor(cols, 1)
      val bad = cards + ("NAXIS1" -> (cards("NAXIS1").toInt + delta).toString)
      try { FitsFormat.tableSpec(bad); false }
      catch { case _: IllegalArgumentException => true; case _: Throwable => false }
    }, n = 100)
  }

  test("TDIM product must equal the repeat count") {
    val gen = for {
      rep <- Gen.choose(2, 24)
      d1 <- Gen.choose(1, 6)
      d2 <- Gen.choose(1, 6)
    } yield (rep, d1, d2)
    check(Prop.forAll(gen) { case (rep, d1, d2) =>
      val cards = Map("XTENSION" -> "BINTABLE",
        "NAXIS1" -> (rep * 4).toString, "NAXIS2" -> "1", "TFIELDS" -> "1",
        "TTYPE1" -> "v", "TFORM1" -> s"${rep}E", "TDIM1" -> s"($d1,$d2)")
      if (d1 * d2 == rep)
        FitsFormat.tableSpec(cards).cols.head.tdim.contains(Seq(d1, d2))
      else
        try { FitsFormat.tableSpec(cards); false }
        catch { case _: IllegalArgumentException => true; case _: Throwable => false }
    }, n = 100)
  }

  /** Valid tiled (ZTABLE=T) card set for n logical columns of scalar
    * numeric codes: stored rows are 1PB descriptors per the convention.
    */
  private def tiledCardsFor(codes: Seq[Char], nRows: Int,
      tileLen: Int): Map[String, String] = {
    val widths = codes.map {
      case 'B' => 1; case 'I' => 2; case 'J' | 'E' => 4; case _ => 8
    }
    Map("XTENSION" -> "BINTABLE", "ZTABLE" -> "T",
      "NAXIS1" -> (codes.length * 8).toString,
      "NAXIS2" -> ((nRows + tileLen - 1) / tileLen).toString,
      "TFIELDS" -> codes.length.toString,
      "ZTILELEN" -> tileLen.toString,
      "ZNAXIS1" -> widths.sum.toString, "ZNAXIS2" -> nRows.toString) ++
      codes.zipWithIndex.flatMap { case (c, i) =>
        Seq(s"TTYPE${i + 1}" -> s"col_$i", s"TFORM${i + 1}" -> "1PB(64)",
          s"ZFORM${i + 1}" -> c.toString, s"ZCTYP${i + 1}" -> "GRAFT_RICE_1")
      }
  }

  test("random valid tiled card sets parse to a consistent TiledTableSpec") {
    val gen = for {
      codes <- Gen.nonEmptyListOf(Gen.oneOf("BIJKED".toSeq)).map(_.take(6))
      n <- Gen.choose(0, 5000)
      tileLen <- Gen.choose(1, 300)
    } yield (codes, n, tileLen)
    check(Prop.forAll(gen) { case (codes, n, tileLen) =>
      val spec = FitsFormat.tiledTableSpec(tiledCardsFor(codes, n, tileLen))
      spec.nRows == n && spec.tileLen == tileLen &&
        spec.nTiles == (n + tileLen - 1) / tileLen &&
        spec.cols.length == codes.length &&
        spec.rowBytes == codes.length * 8 &&
        (0 until spec.nTiles.toInt).map(t => spec.rowsInTile(t).toLong)
          .sum == n
    }, n = 100)
  }

  test("corrupt tiled geometry is rejected, never mis-decoded") {
    val base = tiledCardsFor(Seq('J', 'D'), 100, 16)
    // each corruption must raise IllegalArgumentException from the parser
    val corruptions: Seq[Map[String, String]] = Seq(
      base + ("ZTILELEN" -> "0"),
      base + ("ZTILELEN" -> "-4"),
      base + ("NAXIS2" -> "3"), // ceil(100/16) = 7 tiles, not 3
      base + ("TFORM1" -> "1QB"), // convention requires 1PB here
      base + ("TFORM2" -> "8A"),
      base + ("ZFORM1" -> "1PJ(9)"), // var-length logical col
      base + ("ZFORM2" -> "3D"), // non-scalar numeric logical col
      base + ("NAXIS1" -> "24"), // stored width != TFIELDS * 8
      base + ("ZNAXIS1" -> "5"), // logical width != ZFORM sum
      // TRUNCATION (absent cards) must hit the same reject contract as
      // wrong values — not NoSuchElementException from Map.apply
      base - "ZTILELEN",
      base - "ZNAXIS2",
      base - "ZFORM2",
      base - "TFORM1")
    corruptions.zipWithIndex.foreach { case (cards, i) =>
      intercept[IllegalArgumentException] {
        FitsFormat.tiledTableSpec(cards)
      }
      assert(true, s"corruption $i")
    }
    // the uncorrupted base parses (guards the test itself)
    assert(FitsFormat.tiledTableSpec(base).nTiles == 7)
  }

  test("random frames round-trip through writer and DSv2 byte-exactly") {
    // a Spark job per sample: keep the sample count small but the shapes
    // wide (scalars, strings, fixed float arrays, 0-row frames)
    val fieldGen: Gen[DataType] = Gen.oneOf(
      BooleanType, ShortType, IntegerType, LongType, FloatType, DoubleType,
      StringType, ArrayType(FloatType))
    val schemaGen = Gen.choose(1, 5).flatMap(k =>
      Gen.listOfN(k, fieldGen).map { ts =>
        StructType(ts.zipWithIndex.map { case (t, i) =>
          StructField(s"c_$i", t, nullable = false) })
      })
    def valueFor(dt: DataType): Gen[Any] = dt match {
      case BooleanType => Gen.oneOf(true, false)
      case ShortType => Gen.choose(Short.MinValue, Short.MaxValue)
      case IntegerType => Gen.choose(Int.MinValue, Int.MaxValue)
      case LongType => Gen.choose(Long.MinValue, Long.MaxValue)
      case FloatType => Gen.choose(-1e6f, 1e6f) // finite: reader nulls NaN/Inf
      case DoubleType => Gen.choose(-1e9, 1e9)
      case StringType => Gen.listOfN(6, Gen.alphaNumChar).map(_.mkString)
      case ArrayType(FloatType, _) => Gen.listOfN(3, Gen.choose(-1e6f, 1e6f))
      case other => sys.error(s"no gen for $other")
    }
    val caseGen = for {
      schema <- schemaGen
      n <- Gen.frequency(4 -> Gen.choose(1, 20), 1 -> Gen.const(0))
      rows <- Gen.listOfN(n, Gen.sequence[Seq[Any], Any](
        schema.fields.toSeq.map(f => valueFor(f.dataType))))
    } yield (schema, rows.map(Row.fromSeq))
    var i = 0
    check(Prop.forAll(caseGen) { case (schema, rows) =>
      i += 1
      val path = s"/tmp/graft_test/fuzz_rt_$i.fits" // unique: spec memoization
      FitsWriter.write(path, schema, rows,
        strLens = schema.fields.collect {
          case StructField(n, StringType, _, _) => n -> 8 }.toMap,
        arrayLens = schema.fields.collect {
          case StructField(n, ArrayType(_, _), _, _) => n -> 3 }.toMap)
      val back = spark.read.format("fits").load(path).collect()
      // the gz path must decode the same frame from the same bytes
      val gz = path + ".gz"
      Util.gzipFile(path, gz)
      val backGz = spark.read.format("fits").load(gz).collect()
      back.length == rows.length && {
        def norm(rs: Array[Row]) = rs.map(r => r.toSeq.map {
          case s: scala.collection.Seq[_] => s.toList
          case v => v
        }).sortBy(_.toString())
        val exp = rows.map(r => r.toSeq.map {
          case s: Seq[_] => s.toList
          case v => v
        }).sortBy(_.toString())
        norm(back).sameElements(exp) && norm(backGz).sameElements(exp)
      }
    }, n = 12)
  }

  test("complex and bit columns round-trip through write + read") {
    val gen = for {
      n <- Gen.choose(1, 12)
      vals <- Gen.listOfN(n, for {
        re <- Gen.choose(-1e3f, 1e3f)
        im <- Gen.choose(-1e3f, 1e3f)
        dre <- Gen.choose(-1e6, 1e6)
        dim <- Gen.choose(-1e6, 1e6)
        bytes <- Gen.listOfN(2, Gen.choose(0, 255).map(_.toByte))
      } yield (re, im, dre, dim, bytes.toArray))
    } yield vals
    val schema = StructType(Seq(
      StructField("vis", StructType(Seq(
        StructField("re", FloatType), StructField("im", FloatType)))),
      StructField("vis_d", StructType(Seq(
        StructField("re", DoubleType), StructField("im", DoubleType)))),
      StructField("mask", BinaryType)))
    var i = 0
    check(Prop.forAll(gen) { vals =>
      i += 1
      val path = s"/tmp/graft_test/fuzz_cx_$i.fits"
      val rows = vals.map { case (re, im, dre, dim, b) =>
        Row(Row(re, im), Row(dre, dim), b) }
      // 16-bit mask: the declared width must round the 2 generated bytes
      FitsWriter.write(path, schema, rows, bitCols = Map("mask" -> 16))
      val back = spark.read.format("fits").load(path).collect()
      back.length == vals.length && back.sortBy(_.toString()).zip(
        rows.sortBy(_.toString())).forall { case (g, e) =>
          g.getStruct(0) == e.getStruct(0) && g.getStruct(1) == e.getStruct(1) &&
            java.util.Arrays.equals(g.getAs[Array[Byte]](2), e.getAs[Array[Byte]](2))
      }
    }, n = 8)
  }

  test("random image geometries round-trip: locate + full pixel decode") {
    val gen = for {
      w <- Gen.choose(1, 97)
      h <- Gen.choose(1L, 41L)
    } yield (w, h)
    check(Prop.forAll(gen) { case (w, h) =>
      val path = Util.scratch(s"fuzz_img_${w}_$h.fits")
      FitsWriter.writeImageFits(path, w, h)
      val raf = new java.io.RandomAccessFile(path, "r")
      try {
        raf.seek(0); val s1 = FitsFormat.locateImage(raf, 0)
        raf.seek(0); val s2 = FitsFormat.locateImage(raf, 1)
        assert(s1.width == w && s1.height == h && s1.bitpix == 16)
        assert(s2.width == w && s2.height == h && s2.bitpix == -32)
        // every int16 pixel and every float pixel decodes to the planted
        // closed form at every geometry, incl. odd widths whose rows are
        // not block-aligned (the padding-arithmetic edge)
        val b1 = new Array[Byte](s1.rowBytes.toInt)
        val b2 = new Array[Byte](s2.rowBytes.toInt)
        (0L until h).forall { y =>
          raf.seek(s1.dataOffset + y * s1.rowBytes); raf.readFully(b1)
          raf.seek(s2.dataOffset + y * s2.rowBytes); raf.readFully(b2)
          val bb1 = java.nio.ByteBuffer.wrap(b1)
          val bb2 = java.nio.ByteBuffer.wrap(b2)
          (0 until w).forall { x =>
            val raw = FitsWriter.imageRaw(x, y)
            val f = bb2.getFloat(x * 4)
            bb1.getShort(x * 2).toLong == raw &&
              (if (raw == 250L) f.isNaN else f == raw / 4.0f)
          }
        } && {
          // the file ends block-aligned (the Long-counter padding rule)
          raf.length % FitsFormat.BlockSize == 0
        }
      } finally raf.close()
    }, n = 40)
  }

  // -------- CONTINUE / HIERARCH header conventions (r11 verdict #8) --------

  private def headerOf(cardBytes: Array[Byte]*): Map[String, String] = {
    val out = new java.io.ByteArrayOutputStream()
    cardBytes.foreach(out.write)
    out.write("END".padTo(80, ' ').getBytes("US-ASCII"))
    while (out.size() % 2880 != 0) out.write(' ')
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(out.toByteArray))
    FitsFormat.readHeader(in)._1
  }
  private def plain(key: String, value: String, quote: Boolean = false) =
    FitsWriter.card(key, value, quote)

  test("CONTINUE long strings stitch; literal trailing '&' survives; orphans ignored") {
    val long = "The quick brown fox jumps over the lazy dog's back, " * 4
    val h = headerOf(
      plain("SIMPLE", "T"),
      FitsWriter.longStringCards("SURVEY", long),
      plain("NAXIS", "0"))
    assert(h("SURVEY") == long.reverse.dropWhile(_ == ' ').reverse,
      "stitched long string diverges (modulo insignificant trailing blanks)")
    assert(h("NAXIS") == "0", "card after the chain mis-parsed")
    // a string that ENDS with '&' but has no CONTINUE keeps it literally
    val h2 = headerOf(plain("REF", "x&", quote = true), plain("NAXIS", "0"))
    assert(h2("REF") == "x&")
    // an orphan CONTINUE (no pending '&' value) is ignored, not applied
    val orphan = "CONTINUE  'junk'".padTo(80, ' ').getBytes("US-ASCII")
    val h3 = headerOf(plain("REFB", "x", quote = true), orphan,
      plain("NAXIS", "0"))
    assert(h3("REFB") == "x" && h3("NAXIS") == "0")
  }

  test("HIERARCH keywords parse (and can chain CONTINUE)") {
    val h = headerOf(
      FitsWriter.hierarchCard("ESO DET CHIP ID", "ccd-42", quote = true),
      FitsWriter.hierarchCard("ESO TEL AIRM START", "1.203", quote = false),
      plain("NAXIS", "0"))
    assert(h("HIERARCH ESO DET CHIP ID") == "ccd-42")
    assert(h("HIERARCH ESO TEL AIRM START") == "1.203")
    // a HIERARCH string value may itself continue
    val chained =
      FitsWriter.hierarchCard("ESO OBS NAME", "part&", quote = true) ++
        ("CONTINUE  'two'".padTo(80, ' ').getBytes("US-ASCII"))
    assert(headerOf(chained, plain("NAXIS", "0"))("HIERARCH ESO OBS NAME")
      == "parttwo")
  }

  test("random long strings round-trip through longStringCards + readHeader") {
    val strGen = for {
      n <- Gen.choose(0, 300)
      cs <- Gen.listOfN(n, Gen.oneOf(
        Gen.alphaNumChar, Gen.oneOf('\'', ' ', '&', '/', '=', '-')))
    } yield cs.mkString
    check(Prop.forAll(strGen) { s =>
      val h = headerOf(FitsWriter.longStringCards("LONGSTR", s),
        plain("NAXIS", "0"))
      // trailing blanks are insignificant per §4.2.1 — both on the
      // whole value and (writer-side) never created mid-chunk
      h("LONGSTR") == s.reverse.dropWhile(_ == ' ').reverse &&
        h("NAXIS") == "0"
    }, n = 300)
  }

  test("random CD rotations: pixel -> world -> pixel is the identity (a38)") {
    // dyadic CD entries (k·2⁻⁹, k ∈ [−8, 8] \ singular) — the planted-
    // fixture class; the adjugate/det inverse must reproduce the input
    // pixel exactly enough that a center-planted cut can never slip
    val entry = Gen.choose(-8, 8).map(_ * 0.001953125)
    val wcsGen = for {
      c11 <- entry; c12 <- entry; c21 <- entry; c22 <- entry
      if c11 * c22 - c12 * c21 != 0.0
      p1 <- Gen.choose(1, 64); p2 <- Gen.choose(1, 256)
    } yield FitsFormat.CdTanWcs(p1, 180.0, p2, -10.0,
      c11, c12, c21, c22, tan = false)
    check(Prop.forAll(wcsGen, Gen.choose(0L, 63L), Gen.choose(0L, 255L)) {
      (w, x, y) =>
        val (ra, dec) = w.world(x, y)
        val (px, py) = w.pix(ra, dec)
        math.abs(px - (x + 1)) < 1e-9 && math.abs(py - (y + 1)) < 1e-9
    })
  }

  test("random TAN frames: sky round trip within 1e-9 pixel (a39)") {
    val entry = Gen.choose(-8, 8).map(_ * 0.001953125)
    val wcsGen = for {
      c11 <- entry; c12 <- entry; c21 <- entry; c22 <- entry
      if c11 * c22 - c12 * c21 != 0.0
      v1 <- Gen.choose(0, 359).map(_.toDouble)
      v2 <- Gen.choose(-60, 60).map(_.toDouble)
    } yield FitsFormat.CdTanWcs(32.0, v1, 1.0, v2,
      c11, c12, c21, c22, tan = true)
    check(Prop.forAll(wcsGen, Gen.choose(0L, 63L), Gen.choose(0L, 255L)) {
      (w, x, y) =>
        val (ra, dec) = w.world(x, y)
        val (px, py) = w.pix(ra, dec)
        math.abs(px - (x + 1)) < 1e-9 && math.abs(py - (y + 1)) < 1e-9
    })
  }

  test("corner-box service COVERS the requested pixel window on any rotation") {
    val entry = Gen.choose(-8, 8).map(_ * 0.001953125)
    val wcsGen = for {
      c11 <- entry; c12 <- entry; c21 <- entry; c22 <- entry
      if c11 * c22 - c12 * c21 != 0.0
      tan <- Gen.oneOf(false, true)
    } yield FitsFormat.CdTanWcs(32.0, 180.0, 1.0, -10.0,
      c11, c12, c21, c22, tan)
    val boxGen = for {
      xa <- Gen.choose(0L, 40L); xw <- Gen.choose(0L, 23L)
      ya <- Gen.choose(0L, 200L); yw <- Gen.choose(0L, 55L)
    } yield (xa, xa + xw, ya, ya + yw)
    check(Prop.forAll(wcsGen, boxGen) { case (w, (xa, xb, ya, yb)) =>
      // the client asks for the sky bbox of the window corners; the
      // service's pixel bounding box must CONTAIN the window (the
      // covering guarantee the a38/a39 semantics promise)
      val cs = for (x <- Seq(xa, xb); y <- Seq(ya, yb)) yield w.world(x, y)
      val (x0, x1, y0, y1) = graft.ops.ScanOps.cdCornerBox(w,
        cs.map(_._1).min, cs.map(_._1).max,
        cs.map(_._2).min, cs.map(_._2).max, 64L, 256L)
      x0 <= xa && x1 >= xb && y0 <= ya && y1 >= yb
    })
  }

  test("a39 determinism margin: every TAN ceil/floor input sits off-integer") {
    // the gate's cross-engine argument: trig differs in last ulps, so
    // the cut inputs must not graze integers. Re-derive the gate's
    // exact corner chain per SF-fixture height and assert the margin.
    Seq(500L, 5000L, 50000L).foreach { h =>
      val w = FitsFormat.CdTanWcs(32.0, 180.0, 1.0, -10.0,
        -0.001953125, 0.001953125, 0.001953125, 0.001953125, tan = true)
      val cs = for (x <- Seq(16.25, 47.25);
                    y <- Seq(h / 4 + 0.25, h / 2 - 0.75))
        yield w.worldAt(x, y)
      val ps = for (r <- Seq(cs.map(_._1).min, cs.map(_._1).max);
                    dc <- Seq(cs.map(_._2).min, cs.map(_._2).max))
        yield w.pix(r, dc)
      ps.flatMap(p => Seq(p._1, p._2)).foreach { v =>
        val frac = math.abs(v - math.rint(v))
        assert(frac > 1e-3, s"h=$h: cut input $v grazes an integer")
      }
    }
  }

  test("a39 strictMargin: a grazing TAN cut input fails loudly, not one-engine-silently") {
    val w = FitsFormat.CdTanWcs(32.0, 180.0, 1.0, -10.0,
      -0.001953125, 0.001953125, 0.001953125, 0.001953125, tan = true)
    // a DEGENERATE request box at the sky position of an INTEGER pixel
    // center: every cut input round-trips to that integer within
    // ~1e-12 — exactly the geometry where two engines' libm trig can
    // round a ceil/floor opposite ways
    val (ra, dec) = w.worldAt(16.0, 100.0)
    val e = intercept[IllegalArgumentException] {
      graft.ops.ScanOps.cdCornerBox(w, ra, ra, dec, dec,
        64L, 256L, strictMargin = true)
    }
    assert(e.getMessage.contains("determinism margin"))
    // a covering-only caller (no oracle comparison) still succeeds: an
    // exact-integer outward cut covers either way
    graft.ops.ScanOps.cdCornerBox(w, ra, ra, dec, dec, 64L, 256L)
  }

  test("unknown WCS projection codes refuse the sky path loudly, never degrade to linear") {
    import FitsFormat.Wcs
    val cd = Map(
      "CRPIX1" -> "32.0", "CRVAL1" -> "180.0",
      "CRPIX2" -> "1.0", "CRVAL2" -> "-10.0",
      "CD1_1" -> "-0.001953125", "CD1_2" -> "0.001953125",
      "CD2_1" -> "0.001953125", "CD2_2" -> "0.001953125")
    // the real-archive projection codes a cutout service meets first:
    // SIP-distorted TAN (Spitzer/most survey mosaics), TPV, SIN, ZEA —
    // every one must parse (plain pixel reads keep their metadata) but
    // REFUSE the sky-addressed accessors, not silently act linear
    Seq("TAN-SIP" -> ("'RA---TAN-SIP'", "'DEC--TAN-SIP'"),
        "TPV" -> ("'RA---TPV'", "'DEC--TPV'"),
        "SIN" -> ("'RA---SIN'", "'DEC--SIN'"),
        "ZEA" -> ("'RA---ZEA'", "'DEC--ZEA'")).foreach {
      case (code, (c1, c2)) =>
        val w = Wcs.cdTanOf(cd + ("CTYPE1" -> c1) + ("CTYPE2" -> c2))
          .getOrElse(fail(s"$code header failed to parse at all"))
        assert(w.unsupportedProj.contains(code))
        val e1 = intercept[IllegalArgumentException](w.worldAt(16.25, 100.25))
        assert(e1.getMessage.contains("unsupported WCS projection"))
        val e2 = intercept[IllegalArgumentException](w.pix(180.0, -10.0))
        assert(e2.getMessage.contains("unsupported WCS projection"))
    }
    // the whitelist still passes: TAN, bare linear CD, and bare
    // coordinate names without an algorithm code
    assert(Wcs.cdTanOf(cd + ("CTYPE1" -> "'RA---TAN'")
      + ("CTYPE2" -> "'DEC--TAN'")).exists(w =>
        w.tan && w.unsupportedProj.isEmpty))
    assert(Wcs.cdTanOf(cd).exists(w => !w.tan && w.unsupportedProj.isEmpty))
    assert(Wcs.cdTanOf(cd + ("CTYPE1" -> "'RA'") + ("CTYPE2" -> "'DEC'"))
      .exists(w => !w.tan && w.unsupportedProj.isEmpty))
    // a MIXED projection pair stays malformed -> None (never a guess)
    assert(Wcs.cdTanOf(cd + ("CTYPE1" -> "'RA---TAN'")
      + ("CTYPE2" -> "'DEC--SIN'")).isEmpty)
    // and the LINEAR parser refuses projected CTYPEs too (even TAN —
    // the CD path owns that case): a SIN header with CDELT cards must
    // not become a silently-wrong linear cutout
    val lin = Map(
      "CRPIX1" -> "32.0", "CRVAL1" -> "180.0", "CDELT1" -> "-0.00390625",
      "CRPIX2" -> "1.0", "CRVAL2" -> "-10.0", "CDELT2" -> "0.00390625")
    assert(Wcs.of(lin).nonEmpty)
    Seq("'RA---SIN'" -> "'DEC--SIN'", "'RA---TAN'" -> "'DEC--TAN'").foreach {
      case (c1, c2) =>
        assert(Wcs.of(lin + ("CTYPE1" -> c1) + ("CTYPE2" -> c2)).isEmpty,
          s"linear parser accepted projected CTYPE $c1")
    }
    // but an algorithm code on AXIS 3 is a spectral reference frame
    // (FREQ-LSR, VELO-HEL), not a sky projection: a velocity cube keeps
    // its (valid) linear axis-1/2 WCS — refusing it would silently strip
    // metadata from every radio cube (r13 ADVICE)
    val cube = lin + ("CRPIX3" -> "1.0") + ("CRVAL3" -> "1.42e9") +
      ("CDELT3" -> "1.0e5")
    Seq("'FREQ-LSR'", "'VELO-HEL'", "'WAVE-F2W'").foreach { c3 =>
      val w = Wcs.of(cube + ("CTYPE3" -> c3))
      assert(w.nonEmpty, s"linear parser refused spectral CTYPE3 $c3")
      assert(w.get.axis3.nonEmpty, "axis-3 linear terms must survive")
    }
    // while the SKY axes' refusal is unchanged in the same cube header
    assert(Wcs.of(cube + ("CTYPE1" -> "'RA---SIN'")
      + ("CTYPE2" -> "'DEC--SIN'") + ("CTYPE3" -> "'FREQ-LSR'")).isEmpty)
  }

  test("byte-level 'A' trim equals the US-ASCII String round trip on any bytes") {
    // whitespace-heavy, with NULs, tabs, the other isWhitespace controls
    // and bytes >= 0x80 (which must keep US-ASCII's replacement char)
    def byteG(high: Boolean): Gen[Byte] = Gen.frequency(
      4 -> Gen.const(' '.toByte), 1 -> Gen.const('\t'.toByte),
      1 -> Gen.const(0.toByte),
      1 -> Gen.oneOf(0x0a, 0x0b, 0x0c, 0x0d, 0x1c, 0x1d, 0x1e, 0x1f).map(_.toByte),
      4 -> Gen.choose(0x21, 0x7e).map(_.toByte),
      (if (high) 2 else 0) -> Gen.choose(0x80, 0xff).map(_.toByte))
    val caseG = for {
      high <- Gen.frequency(3 -> false, 1 -> true)
      buf <- Gen.listOf(byteG(high)).map(_.take(64).toArray)
      off <- Gen.choose(0, buf.length)
      len <- Gen.choose(0, buf.length - off)
    } yield (buf, off, len)
    check(Prop.forAll(caseG) { case (buf, off, len) =>
      val want = org.apache.spark.unsafe.types.UTF8String.fromString(
        FitsFormat.trimTrailing(new String(buf, off, len,
          java.nio.charset.StandardCharsets.US_ASCII)))
      val got = FitsFormat.asciiCell(buf, off, len)
      val same = got == want
      // the cell must own its bytes: the reader reuses its record buffer
      java.util.Arrays.fill(buf, 'x'.toByte)
      same && got == want
    }, n = 1000)
  }

  test("a truncated data unit fails at plan time naming the file, HDU and sizes") {
    val sch = StructType(Seq(StructField("k", LongType), StructField("s", StringType)))
    val full = graft.Util.scratch("trunc_full.fits")
    FitsWriter.write(full, sch, (0 until 200).map(i => Row(i.toLong, s"r$i")),
      strLens = Map("s" -> 8))
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(full))
    val swo = graft.fits.FitsTable.readSpec(full, 0)
    val dataEnd = swo.dataStart + swo.spec.rowBytes * 200L
    assert(bytes.length - 2880L < dataEnd, "one block short must cut into the data")
    var i = 0
    def cutTo(n: Long): String = {
      i += 1
      val p = graft.Util.scratch(s"trunc_$i.fits")
      java.nio.file.Files.write(java.nio.file.Paths.get(p), bytes.take(n.toInt))
      p
    }
    def plan(p: String) = graft.fits.FitsScan.splitsFor(Seq(p), 0,
      swo.spec.schema, None)
    def expectLoud(n: Long): Boolean = {
      val p = cutTo(n)
      val e = intercept[IllegalArgumentException](plan(p))
      Seq(p, "extension #0", s"needs $dataEnd bytes", s"file has $n")
        .forall(e.getMessage.contains)
    }
    // mid-row, and one 2880-byte block short of the padded file
    assert(expectLoud(swo.dataStart + 37L * swo.spec.rowBytes + swo.spec.rowBytes / 2))
    assert(expectLoud(bytes.length - 2880L))
    check(Prop.forAll(Gen.choose(swo.dataStart, dataEnd - 1))(expectLoud), n = 30)
    // the read fails and names the file, before any task starts
    val cut = cutTo(dataEnd - 1)
    val e = intercept[Exception](spark.read.format("fits").load(cut).collect())
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
    assert(chain(e).exists(m => m != null && m.contains(cut)),
      s"error does not name the file: ${chain(e).mkString(" | ")}")
    // a file that ends at the data unit, without its block padding, is whole
    assert(plan(cutTo(dataEnd)).length == 1)
  }
}
