package graft

import java.io.{DataOutputStream, FileOutputStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.fits.{FitsFormat, FitsWriter}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Byte-level FITS reader tests on hand-authored BINTABLE files (SURVEY §5:
  * no FITS library exists in this container, so fixtures are raw bytes).
  * Covers TFORM codes L/B/I/J/K/E/D/8A/3E, TSCAL/TZERO scaling, the
  * unsigned-int TZERO idiom, TNULL sentinels, NaN→NULL, trailing-blank
  * trim, extension selection, row-range splits and column pruning.
  */
class FitsSpec extends SparkTestBase {

  private def card(key: String, value: String, quote: Boolean): Array[Byte] = {
    val v = if (quote) s"'${value.padTo(8, ' ')}'" else value
    val text = if (quote) f"${key.padTo(8, ' ')}= $v%-69s" else f"${key.padTo(8, ' ')}= $v%20s"
    text.padTo(80, ' ').take(80).getBytes(StandardCharsets.US_ASCII)
  }
  private val endCard = "END".padTo(80, ' ').getBytes(StandardCharsets.US_ASCII)

  /** Hand-built file: one BINTABLE with every supported scalar code. */
  private def writeHandBuilt(path: String): Unit = {
    val out = new DataOutputStream(new FileOutputStream(path))
    def pad(fill: Byte): Unit =
      out.write(Array.fill((2880 - out.size() % 2880) % 2880)(fill))
    out.write(card("SIMPLE", "T", quote = false))
    out.write(card("BITPIX", "8", quote = false))
    out.write(card("NAXIS", "0", quote = false))
    out.write(endCard); pad(' '.toByte)

    // Row: L(1) B(1) I(2) J(4) K(8) E(4) D(8) 8A(8) 3E(12) scaled-I(2)
    // unsigned-I(2) tnull-J(4)  => 56 bytes
    val rowBytes = 1 + 1 + 2 + 4 + 8 + 4 + 8 + 8 + 12 + 2 + 2 + 4
    out.write(card("XTENSION", "BINTABLE", quote = true))
    out.write(card("BITPIX", "8", quote = false))
    out.write(card("NAXIS", "2", quote = false))
    out.write(card("NAXIS1", rowBytes.toString, quote = false))
    out.write(card("NAXIS2", "3", quote = false))
    out.write(card("PCOUNT", "0", quote = false))
    out.write(card("GCOUNT", "1", quote = false))
    out.write(card("TFIELDS", "12", quote = false))
    val forms = Seq("L", "B", "I", "J", "K", "E", "D", "8A", "3E", "I", "I", "J")
    val names = Seq("flag", "ub", "i16", "i32", "i64", "f32", "f64", "name",
      "vec", "scaled", "u16", "withnull")
    forms.zip(names).zipWithIndex.foreach { case ((tf, nm), i) =>
      out.write(card(s"TTYPE${i + 1}", nm, quote = true))
      out.write(card(s"TFORM${i + 1}", tf, quote = true))
    }
    out.write(card("TSCAL10", "0.5", quote = false))
    out.write(card("TZERO10", "100.0", quote = false))
    out.write(card("TZERO11", "32768", quote = false))
    out.write(card("TNULL12", "-999", quote = false))
    out.write(endCard); pad(' '.toByte)

    val buf = ByteBuffer.allocate(rowBytes)
    def row(flag: Boolean, ub: Int, i16: Short, i32: Int, i64: Long, f32: Float,
        f64: Double, name: String, vec: Seq[Float], scaled: Short, u16: Short,
        withnull: Int): Unit = {
      buf.clear()
      buf.put((if (flag) 'T' else 'F').toByte)
      buf.put(ub.toByte)
      buf.putShort(i16); buf.putInt(i32); buf.putLong(i64)
      buf.putFloat(f32); buf.putDouble(f64)
      buf.put(name.getBytes(StandardCharsets.US_ASCII).take(8).padTo(8, ' '.toByte))
      vec.foreach(buf.putFloat)
      buf.putShort(scaled); buf.putShort(u16); buf.putInt(withnull)
      out.write(buf.array(), 0, rowBytes)
    }
    row(flag = true, 200, 12345, 70000, 9000000000L, 1.5f, 2.25, "alpha",
      Seq(1f, 2f, 3f), 10, 0, 42)
    row(flag = false, 7, -5, -1, -2L, Float.NaN, Double.NaN, "bee     ",
      Seq(-1f, 0f, 1f), -4, -1 /* raw 0xFFFF => 65535 - 32768 ... */, -999)
    row(flag = true, 0, 0, 0, 0L, 0f, 0.0, "", Seq(0f, 0f, 0f), 0, -32768, 0)
    out.write(Array.fill((2880 - (rowBytes * 3) % 2880) % 2880)(0.toByte))
    out.close()
  }

  private val handPath = "/tmp/graft_test/hand.fits"
  Files.createDirectories(Paths.get("/tmp/graft_test"))

  test("hand-built BINTABLE decodes every supported TFORM code") {
    writeHandBuilt(handPath)
    val df = spark.read.format("fits").load(handPath)
    val rows = df.collect()
    assert(rows.length == 3)
    val r0 = rows(0)
    assert(r0.getAs[Boolean]("flag"))
    assert(r0.getAs[Short]("ub") == 200) // unsigned byte widened
    assert(r0.getAs[Short]("i16") == 12345)
    assert(r0.getAs[Int]("i32") == 70000)
    assert(r0.getAs[Long]("i64") == 9000000000L)
    assert(r0.getAs[Float]("f32") == 1.5f)
    assert(r0.getAs[Double]("f64") == 2.25)
    assert(r0.getAs[String]("name") == "alpha") // trailing blanks trimmed
    assert(r0.getAs[scala.collection.Seq[Float]]("vec").toSeq == Seq(1f, 2f, 3f))
    assert(r0.getAs[Double]("scaled") == 10 * 0.5 + 100.0) // TSCAL/TZERO
    assert(r0.getAs[Int]("u16") == 32768) // TZERO unsigned idiom
    assert(r0.getAs[Int]("withnull") == 42)

    val r1 = rows(1)
    assert(r1.isNullAt(r1.fieldIndex("f32"))) // NaN → NULL
    assert(r1.isNullAt(r1.fieldIndex("f64")))
    assert(r1.getAs[String]("name") == "bee")
    assert(r1.getAs[Int]("u16") == 32767) // raw -1 (0xFFFF) + 32768
    assert(r1.isNullAt(r1.fieldIndex("withnull"))) // TNULL sentinel

    val r2 = rows(2)
    assert(r2.getAs[String]("name") == "")
    assert(r2.getAs[Int]("u16") == 0) // raw -32768 + 32768
  }

  test("schema comes from header, with widening per the §1.2 table") {
    writeHandBuilt(handPath)
    val sch = spark.read.format("fits").load(handPath).schema
    assert(sch("ub").dataType == ShortType)
    assert(sch("i16").dataType == ShortType)
    assert(sch("i32").dataType == IntegerType)
    assert(sch("i64").dataType == LongType)
    assert(sch("scaled").dataType == DoubleType) // TSCAL ⇒ double
    assert(sch("u16").dataType == IntegerType)   // TZERO idiom ⇒ widened
    assert(sch("vec").dataType == ArrayType(FloatType))
  }

  test("row-range splits cover all rows exactly once") {
    writeHandBuilt(handPath)
    val df = spark.read.format("fits").option("rowspersplit", "1").load(handPath)
    assert(df.rdd.getNumPartitions == 3)
    assert(df.count() == 3)
    assert(df.select("i32").collect().map(_.get(0)).toSet == Set(70000, -1, 0))
  }

  test("column pruning decodes only requested columns") {
    writeHandBuilt(handPath)
    val df = spark.read.format("fits").load(handPath).select("name", "i32")
    assert(df.columns.toSeq == Seq("name", "i32"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("alpha", "bee", ""))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("name") && !plan.toLowerCase.contains("withnull"))
  }

  test("extnum selects among multiple BINTABLE extensions") {
    val p = "/tmp/graft_test/multi.fits"
    // write two tables via FitsWriter into one file is unsupported; emulate
    // by concatenating two single-table files' extension parts.
    val f1 = "/tmp/graft_test/m1.fits"; val f2 = "/tmp/graft_test/m2.fits"
    val sch = StructType(Seq(StructField("x", IntegerType)))
    FitsWriter.write(f1, sch, Seq(Row(1), Row(2)))
    FitsWriter.write(f2, sch, Seq(Row(10)))
    val b1 = Files.readAllBytes(Paths.get(f1))
    val b2 = Files.readAllBytes(Paths.get(f2))
    val primaryLen = 2880 // primary HDU of these files is one block
    val outB = b1 ++ b2.drop(primaryLen)
    Files.write(Paths.get(p), outB)
    assert(spark.read.format("fits").load(p).count() == 2)
    assert(spark.read.format("fits").option("extnum", "1").load(p)
      .collect().map(_.getInt(0)).toSeq == Seq(10))
  }

  test("FitsWriter round-trip preserves values and types (nation)") {
    val nation = Tables.t(spark, sfDir, "nation")
    val path = "/tmp/graft_test/nation_rt.fits"
    FitsWriter.write(path, nation.schema,
      nation.orderBy("n_nationkey").collect().toIndexedSeq,
      strLens = Map("n_name" -> 25))
    val back = spark.read.format("fits").load(path)
    assert(back.schema == nation.schema)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      nation.orderBy("n_nationkey").collect().toSeq)
  }

  test("writeDataFrame is byte-identical to driver-side write (nation)") {
    val nation = Tables.t(spark, sfDir, "nation").orderBy("n_nationkey")
    val drv = "/tmp/graft_test/nation_drv.fits"
    val dist = "/tmp/graft_test/nation_dist.fits"
    FitsWriter.write(drv, nation.schema, nation.collect().toIndexedSeq,
      strLens = Map("n_name" -> 25))
    FitsWriter.writeDataFrame(dist, nation, strLens = Map("n_name" -> 25))
    // the 25 sorted rows range-partition across several tasks (shuffle
    // partitions = 4 in tests), so this exercises the multi-partition
    // offset math, not a degenerate single-writer case
    assert(Files.readAllBytes(Paths.get(drv)).toSeq ==
      Files.readAllBytes(Paths.get(dist)).toSeq)
  }

  test("writeDataFrame byte parity with heap columns (fixed + var-length)") {
    import org.apache.spark.sql.functions._
    val emb = Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        expr("slice(embedding, 1, CAST(vec_id % 5 AS INT))").as("head_var"))
      .orderBy("vec_id")
    val drv = "/tmp/graft_test/emb_drv.fits"
    val dist = "/tmp/graft_test/emb_dist.fits"
    FitsWriter.write(drv, emb.schema, emb.collect().toIndexedSeq,
      arrayLens = Map("embedding" -> 64), varCols = Map("head_var" -> 'P'))
    FitsWriter.writeDataFrame(dist, emb,
      arrayLens = Map("embedding" -> 64), varCols = Map("head_var" -> 'P'))
    // per-partition heap bases must line descriptors up exactly with the
    // driver writer's sequential heap for the bytes to match
    assert(Files.readAllBytes(Paths.get(drv)).toSeq ==
      Files.readAllBytes(Paths.get(dist)).toSeq)
    val back = spark.read.format("fits").load(dist)
    assert(back.count() == emb.count())
  }

  test("writeAsciiDataFrame is byte-identical to driver-side writeAscii") {
    import org.apache.spark.sql.functions._
    val region = Tables.t(spark, sfDir, "region")
      .select(col("r_regionkey").cast(LongType).as("r_regionkey"),
        col("r_name"),
        (col("r_regionkey") * 0.5).cast(DoubleType).as("half"))
      .orderBy("r_regionkey")
    val drv = "/tmp/graft_test/region_drv.fits"
    val dist = "/tmp/graft_test/region_dist.fits"
    FitsWriter.writeAscii(drv, region.schema, region.collect().toIndexedSeq,
      strLens = Map("r_name" -> 25), dblFmt = (10, 1))
    FitsWriter.writeAsciiDataFrame(dist, region,
      strLens = Map("r_name" -> 25), dblFmt = (10, 1))
    assert(Files.readAllBytes(Paths.get(drv)).toSeq ==
      Files.readAllBytes(Paths.get(dist)).toSeq)
  }

  test("writeDataFrame on an empty frame yields a readable 0-row table") {
    val p = "/tmp/graft_test/empty_dist.fits"
    val empty = Tables.t(spark, sfDir, "nation").filter("n_nationkey < 0")
    FitsWriter.writeDataFrame(p, empty, strLens = Map("n_name" -> 25))
    val back = spark.read.format("fits").load(p)
    assert(back.count() == 0)
    assert(back.schema.fieldNames.contains("n_nationkey"))
  }

  test("TDIM on a P/Q var-length column is ignored, not rejected") {
    // FITS 4.0 §7.3.2 allows TDIMn as the max-cell shape on var-length
    // columns; build such a header by patching a generated file's cards
    val base = "/tmp/graft_test/vartdim_base.fits"
    val schema = StructType(Seq(StructField("v", ArrayType(IntegerType))))
    FitsWriter.write(base, schema, Seq(Row(Seq(1, 2)), Row(Seq(3))),
      varCols = Map("v" -> 'P'))
    val bytes = Files.readAllBytes(Paths.get(base))
    // append a TDIM1 card by rewriting the extension header: find END in
    // the second HDU and replace it with TDIM1 + END (header has room in
    // its 2880 block: 10 cards used)
    val extStart = 2880
    val cardAt = (k: Int) => new String(bytes, extStart + k * 80, 80,
      StandardCharsets.US_ASCII)
    val endIdx = (0 until 36).indexWhere(k => cardAt(k).startsWith("END"))
    assert(endIdx > 0 && endIdx < 35)
    System.arraycopy(card("TDIM1", "(2,1)", quote = true), 0,
      bytes, extStart + endIdx * 80, 80)
    System.arraycopy(endCard, 0, bytes, extStart + (endIdx + 1) * 80, 80)
    val patched = "/tmp/graft_test/vartdim.fits"
    Files.write(Paths.get(patched), bytes)
    val back = spark.read.format("fits").load(patched)
    assert(back.collect().map(_.getSeq[Int](0).toSeq).toSeq ==
      Seq(Seq(1, 2), Seq(3)))
  }

  test("X write zeroes unused trailing bits (FITS 4.0 §7.3.3)") {
    val schema = StructType(Seq(StructField("mask", BinaryType)))
    val p = "/tmp/graft_test/xbits_mask.fits"
    // 12-bit column, dirty low nibble in the input: bits 13-16 must not
    // survive the write (a conforming reader would drop them; ours would
    // round-trip phantom flags)
    FitsWriter.write(p, schema,
      Seq(Row(Array(0xAB.toByte, 0xCF.toByte))), bitCols = Map("mask" -> 12))
    val back = spark.read.format("fits").load(p).collect()
    assert(back.head.getAs[Array[Byte]](0).toSeq ==
      Seq(0xAB.toByte, 0xC0.toByte))
  }

  test("header parser rejects unsupported TFORMs with a clear error") {
    val e = intercept[IllegalArgumentException] {
      FitsFormat.parseTform("3Z") // not a FITS 4.0 binary-table code
    }
    assert(e.getMessage.contains("Unsupported TFORM"))
    assert(FitsFormat.parseTform("PJ(5)") == (('J', 5, Some('P'))))
    assert(FitsFormat.parseTform("1QD") == (('D', 0, Some('Q'))))
    assert(FitsFormat.parseTform("2C") == (('C', 2, None)))
  }

  test("complex C/M cells decode to (re, im) structs") {
    val p = "/tmp/graft_test/complex.fits"
    val out = new DataOutputStream(new FileOutputStream(p))
    def pad(fill: Byte): Unit =
      out.write(Array.fill((2880 - out.size() % 2880) % 2880)(fill))
    out.write(card("SIMPLE", "T", quote = false))
    out.write(card("BITPIX", "8", quote = false))
    out.write(card("NAXIS", "0", quote = false))
    out.write(endCard); pad(' '.toByte)
    out.write(card("XTENSION", "BINTABLE", quote = true))
    out.write(card("BITPIX", "8", quote = false))
    out.write(card("NAXIS", "2", quote = false))
    out.write(card("NAXIS1", "24", quote = false)) // C(8) + M(16)
    out.write(card("NAXIS2", "2", quote = false))
    out.write(card("PCOUNT", "0", quote = false))
    out.write(card("GCOUNT", "1", quote = false))
    out.write(card("TFIELDS", "2", quote = false))
    out.write(card("TTYPE1", "c64", quote = true))
    out.write(card("TFORM1", "C", quote = true))
    out.write(card("TTYPE2", "c128", quote = true))
    out.write(card("TFORM2", "M", quote = true))
    out.write(endCard); pad(' '.toByte)
    val buf = ByteBuffer.allocate(48)
    buf.putFloat(1.5f); buf.putFloat(-2.5f); buf.putDouble(3.25); buf.putDouble(-4.75)
    buf.putFloat(0f); buf.putFloat(1f); buf.putDouble(-1.0); buf.putDouble(0.0)
    out.write(buf.array()); pad(0.toByte)
    out.close()
    val df = spark.read.format("fits").load(p)
    val r0 = df.collect()(0)
    val c64 = r0.getStruct(0)
    assert(c64.getFloat(0) == 1.5f && c64.getFloat(1) == -2.5f)
    val c128 = r0.getStruct(1)
    assert(c128.getDouble(0) == 3.25 && c128.getDouble(1) == -4.75)
  }

  test("signed-byte idiom (B with TZERO=-128) applies the offset") {
    val p = "/tmp/graft_test/sbyte.fits"
    val out = new DataOutputStream(new FileOutputStream(p))
    def pad(fill: Byte): Unit =
      out.write(Array.fill((2880 - out.size() % 2880) % 2880)(fill))
    out.write(card("SIMPLE", "T", quote = false))
    out.write(card("BITPIX", "8", quote = false))
    out.write(card("NAXIS", "0", quote = false))
    out.write(endCard); pad(' '.toByte)
    out.write(card("XTENSION", "BINTABLE", quote = true))
    out.write(card("BITPIX", "8", quote = false))
    out.write(card("NAXIS", "2", quote = false))
    out.write(card("NAXIS1", "1", quote = false))
    out.write(card("NAXIS2", "3", quote = false))
    out.write(card("PCOUNT", "0", quote = false))
    out.write(card("GCOUNT", "1", quote = false))
    out.write(card("TFIELDS", "1", quote = false))
    out.write(card("TTYPE1", "sb", quote = true))
    out.write(card("TFORM1", "B", quote = true))
    out.write(card("TZERO1", "-128", quote = false))
    out.write(endCard); pad(' '.toByte)
    out.write(Array[Byte](0x00, 0xFF.toByte, 0x80.toByte))
    pad(0.toByte)
    out.close()
    val vals = spark.read.format("fits").load(p).collect().map(_.getShort(0)).toSeq
    assert(vals == Seq(-128, 127, 0))
  }

  test("TZERO/TSCAL idioms: column predicates and decoded cells, per code") {
    import FitsFormat.ColSpec
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.Decimal
    val two63 = 9.223372036854775808e18
    def col(code: Char, scale: Option[Double] = None, zero: Option[Double] = None,
        tnull: Option[Long] = None) = ColSpec("c", code, 1, scale, zero, tnull)
    def buf(fill: ByteBuffer => Unit): ByteBuffer = {
      val b = ByteBuffer.allocate(16); fill(b); b
    }
    // C/M decode to a row; compare its fields, and everything by class too
    def norm(v: Any): Any = v match {
      case r: InternalRow => (norm(r.get(0, NullType)), norm(r.get(1, NullType)))
      case null => null
      case x => (x, x.getClass)
    }
    // (case, column, cell bytes, isUnsignedIdiom, hasScaling, decoded cell)
    val cases = Seq[(String, ColSpec, ByteBuffer, Boolean, Boolean, Any)](
      ("B plain", col('B'), buf(_.put(0, 0xF0.toByte)), false, false, 240.toShort),
      ("B TZERO -128", col('B', zero = Some(-128.0)), buf(_.put(0, 5.toByte)),
        true, false, (-123).toShort),
      ("B TNULL", col('B', tnull = Some(255L)), buf(_.put(0, 0xFF.toByte)), false, false, null),
      ("I TZERO 32768", col('I', zero = Some(32768.0)), buf(_.putShort(0, Short.MinValue)),
        true, false, 0),
      ("I TZERO 32768 TSCAL 1", col('I', Some(1.0), Some(32768.0)),
        buf(_.putShort(0, Short.MaxValue)), true, false, 65535),
      ("I TZERO 32768 TSCAL 2", col('I', Some(2.0), Some(32768.0)),
        buf(_.putShort(0, 7)), false, true, 7.toShort),
      ("I TNULL", col('I', tnull = Some(-1L)), buf(_.putShort(0, -1)), false, false, null),
      ("J TZERO 2^31", col('J', zero = Some(2147483648.0)), buf(_.putInt(0, Int.MaxValue)),
        true, false, 4294967295L),
      ("J TSCAL 0.5", col('J', scale = Some(0.5)), buf(_.putInt(0, -3)), false, true, -3),
      ("J TNULL miss", col('J', tnull = Some(-99L)), buf(_.putInt(0, -98)), false, false, -98),
      ("J TNULL hit", col('J', tnull = Some(-99L)), buf(_.putInt(0, -99)), false, false, null),
      ("K TZERO 2^63", col('K', zero = Some(two63)), buf(_.putLong(0, Long.MaxValue)),
        true, false, Decimal(new java.math.BigDecimal("18446744073709551615"), 20, 0)),
      ("K TZERO 2^63 TNULL", col('K', zero = Some(two63), tnull = Some(Long.MinValue)),
        buf(_.putLong(0, Long.MinValue)), true, false, null),
      ("K TZERO 1", col('K', zero = Some(1.0)), buf(_.putLong(0, 41L)), false, true, 41L),
      ("L TZERO", col('L', zero = Some(5.0)), buf(_.put(0, 'T'.toByte)), false, false, true),
      ("C TSCAL", col('C', scale = Some(2.0)),
        buf(b => { b.putFloat(0, 1.5f); b.putFloat(4, -2f) }), false, false,
        InternalRow(1.5f, -2f)),
      ("M TZERO", col('M', zero = Some(1.0)),
        buf(b => { b.putDouble(0, 1.5); b.putDouble(8, -2.0) }), false, false,
        InternalRow(1.5, -2.0)))
    cases.foreach { case (name, c, b, unsigned, scaled, cell) =>
      assert(c.isUnsignedIdiom == unsigned, name)
      assert(c.hasScaling == scaled, name)
      assert(norm(FitsFormat.decodeElem(b, 0, c)) == norm(cell), name)
    }
    // scaling is undefined on A and X as well, whatever TSCAL/TZERO say
    Seq('A', 'X').foreach { code =>
      val c = col(code, Some(2.0), Some(3.0))
      assert(!c.hasScaling && !c.isUnsignedIdiom, code)
    }
    // the predicates follow the fields on copy (they are per-instance vals)
    val j = col('J', zero = Some(2147483648.0), tnull = Some(7L))
    assert(!j.copy(zero = None).isUnsignedIdiom)
    assert(j.copy(scale = Some(3.0)).hasScaling)
    assert(!j.copy(tnull = None).hasTnull && j.hasTnull && j.tnullValue == 7L)
    val scaledI = col('I', Some(2.0), Some(32768.0))
    assert(FitsFormat.applyScale(
      FitsFormat.decodeElem(buf(_.putShort(0, 7)), 0, scaledI), scaledI) == 32782.0)
  }

  test("quoted header values keep slashes and escaped quotes") {
    import java.io.{ByteArrayInputStream, DataInputStream}
    val cards = Seq(
      card("SIMPLE", "T", quote = false),
      card("TTYPE1", "RA/DEC f", quote = true), // '/' inside quotes ≠ comment
      f"${"TUNIT1".padTo(8, ' ')}= 'it''s   '           / a comment".padTo(80, ' ')
        .getBytes(StandardCharsets.US_ASCII),
      endCard)
    val block = cards.flatten.toArray ++
      Array.fill(2880 - cards.map(_.length).sum)(' '.toByte)
    val (parsed, _) = FitsFormat.readHeader(
      new DataInputStream(new ByteArrayInputStream(block)))
    assert(parsed("TTYPE1") == "RA/DEC f")
    assert(parsed("TUNIT1") == "it's")
  }

  test("variable-length P/Q array cells read from the heap") {
    val p = "/tmp/graft_test/varlen.fits"
    val out = new DataOutputStream(new FileOutputStream(p))
    def pad(fill: Byte): Unit =
      out.write(Array.fill((2880 - out.size() % 2880) % 2880)(fill))
    out.write(card("SIMPLE", "T", quote = false))
    out.write(card("BITPIX", "8", quote = false))
    out.write(card("NAXIS", "0", quote = false))
    out.write(endCard); pad(' '.toByte)

    // Row: PJ(3) desc (8B) + QD(2) desc (16B) = 24 bytes; 2 rows; heap 36B.
    out.write(card("XTENSION", "BINTABLE", quote = true))
    out.write(card("BITPIX", "8", quote = false))
    out.write(card("NAXIS", "2", quote = false))
    out.write(card("NAXIS1", "24", quote = false))
    out.write(card("NAXIS2", "2", quote = false))
    out.write(card("PCOUNT", "36", quote = false))
    out.write(card("GCOUNT", "1", quote = false))
    out.write(card("TFIELDS", "2", quote = false))
    out.write(card("TTYPE1", "varr", quote = true))
    out.write(card("TFORM1", "PJ(3)", quote = true))
    out.write(card("TTYPE2", "darr", quote = true))
    out.write(card("TFORM2", "QD(2)", quote = true))
    out.write(endCard); pad(' '.toByte)

    val buf = ByteBuffer.allocate(24 * 2 + 36)
    // row 1: ints [1,2,3] @heap 0; doubles [1.5, 2.5] @heap 12
    buf.putInt(3); buf.putInt(0)
    buf.putLong(2L); buf.putLong(12L)
    // row 2: ints [] @28; doubles [9.25] @28
    buf.putInt(0); buf.putInt(28)
    buf.putLong(1L); buf.putLong(28L)
    // heap
    buf.putInt(1); buf.putInt(2); buf.putInt(3)
    buf.putDouble(1.5); buf.putDouble(2.5)
    buf.putDouble(9.25)
    out.write(buf.array())
    pad(0.toByte)
    out.close()

    val df = spark.read.format("fits").load(p)
    assert(df.schema("varr").dataType == ArrayType(IntegerType))
    assert(df.schema("darr").dataType == ArrayType(DoubleType))
    val rows = df.collect()
    assert(rows(0).getAs[scala.collection.Seq[Int]]("varr").toSeq == Seq(1, 2, 3))
    assert(rows(0).getAs[scala.collection.Seq[Double]]("darr").toSeq == Seq(1.5, 2.5))
    assert(rows(1).getAs[scala.collection.Seq[Int]]("varr").isEmpty)
    assert(rows(1).getAs[scala.collection.Seq[Double]]("darr").toSeq == Seq(9.25))
  }

  test("FitsWriter P/Q var-length write round-trips byte-exactly") {
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = true),
      StructField("pj", ArrayType(IntegerType), nullable = true),
      StructField("qd", ArrayType(DoubleType), nullable = true)))
    val rows = Seq(
      Row(1, Seq(10, 20, 30), Seq(1.5, 2.5)),
      Row(2, Seq.empty[Int], Seq(9.25)),
      Row(3, Seq(7), Seq.empty[Double]))
    val a = "/tmp/graft_test/varlen_w1.fits"
    FitsWriter.write(a, schema, rows, varCols = Map("pj" -> 'P', "qd" -> 'Q'))

    val back = spark.read.format("fits").load(a)
    assert(back.schema("pj").dataType == ArrayType(IntegerType))
    assert(back.schema("qd").dataType == ArrayType(DoubleType))
    val got = back.orderBy("id").collect()
    assert(got(0).getAs[scala.collection.Seq[Int]]("pj").toSeq == Seq(10, 20, 30))
    assert(got(1).getAs[scala.collection.Seq[Int]]("pj").isEmpty)
    assert(got(2).getAs[scala.collection.Seq[Double]]("qd").isEmpty)
    assert(got(0).getAs[scala.collection.Seq[Double]]("qd").toSeq == Seq(1.5, 2.5))

    // read → re-write: the two files must be byte-identical (writer/reader
    // agree on descriptors, heap layout, PCOUNT and padding)
    val b = "/tmp/graft_test/varlen_w2.fits"
    FitsWriter.write(b, schema,
      got.map(r => Row(r.getInt(0),
        r.getAs[scala.collection.Seq[Int]]("pj").toSeq,
        r.getAs[scala.collection.Seq[Double]]("qd").toSeq)).toIndexedSeq,
      varCols = Map("pj" -> 'P', "qd" -> 'Q'))
    assert(java.util.Arrays.equals(
      Files.readAllBytes(Paths.get(a)), Files.readAllBytes(Paths.get(b))),
      "read→write round-trip is not byte-exact")
  }

  test("gzipped FITS member reads identically, including var-length heap cells") {
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = true),
      StructField("pj", ArrayType(IntegerType), nullable = true),
      StructField("qd", ArrayType(DoubleType), nullable = true)))
    val rows = Seq(
      Row(1, Seq(10, 20, 30), Seq(1.5, 2.5)),
      Row(2, Seq.empty[Int], Seq(9.25)),
      Row(3, Seq(7), Seq.empty[Double]))
    val plain = "/tmp/graft_test/varlen_gz_src.fits"
    FitsWriter.write(plain, schema, rows, varCols = Map("pj" -> 'P', "qd" -> 'Q'))
    val gz = plain + ".gz"
    Util.gzipFile(plain, gz)

    // schema from the gz header walk + every cell (fixed AND heap) equal
    val a = spark.read.format("fits").load(plain).orderBy("id").collect()
    val b = spark.read.format("fits").load(gz).orderBy("id").collect()
    assert(spark.read.format("fits").load(gz).schema ==
      spark.read.format("fits").load(plain).schema)
    assert(a.length == b.length && a.zip(b).forall { case (x, y) => x == y },
      "gzipped member decoded differently from the plain file")

    // a .gz member must plan exactly ONE partition (not splittable)
    val parts = spark.read.format("fits")
      .option("rowsPerSplit", "1").load(gz).rdd.getNumPartitions
    assert(parts == 1, s"gz member split into $parts partitions")
    val plainParts = spark.read.format("fits")
      .option("rowsPerSplit", "1").load(plain).rdd.getNumPartitions
    assert(plainParts == 3, s"plain file ignored rowsPerSplit ($plainParts)")
  }

  test("TDIM multi-dimensional cells read back as nested arrays") {
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = true),
      StructField("img", ArrayType(FloatType), nullable = true)))
    // 6 floats per cell declared as TDIM (3,2): 2 outer rows × 3 inner
    val rows = Seq(
      Row(1, Seq(1f, 2f, 3f, 4f, 5f, 6f)),
      Row(2, Seq(10f, 20f, 30f, 40f, 50f, 60f)))
    val p = "/tmp/graft_test/tdim.fits"
    FitsWriter.write(p, schema, rows,
      arrayLens = Map("img" -> 6), tdims = Map("img" -> Seq(3, 2)))
    val df = spark.read.format("fits").load(p)
    assert(df.schema("img").dataType ==
      ArrayType(ArrayType(FloatType, containsNull = true), containsNull = true))
    val got = df.orderBy("id").collect()
    val outer = got(0).getAs[scala.collection.Seq[scala.collection.Seq[Float]]]("img")
    assert(outer.map(_.toSeq).toSeq ==
      Seq(Seq(1f, 2f, 3f), Seq(4f, 5f, 6f))) // first axis varies fastest
    assert(got(1).getAs[scala.collection.Seq[scala.collection.Seq[Float]]]("img")
      .map(_.toSeq).toSeq == Seq(Seq(10f, 20f, 30f), Seq(40f, 50f, 60f)))
  }

  test("ASCII TABLE extension reads fixed character fields") {
    val p = "/tmp/graft_test/ascii.fits"
    val out = new DataOutputStream(new FileOutputStream(p))
    def pad(fill: Byte): Unit =
      out.write(Array.fill((2880 - out.size() % 2880) % 2880)(fill))
    out.write(card("SIMPLE", "T", quote = false))
    out.write(card("BITPIX", "8", quote = false))
    out.write(card("NAXIS", "0", quote = false))
    out.write(endCard); pad(' '.toByte)

    // 30-char rows: name A8 @1, count I6 @9, flux E10.3 @15, mag F5.2 @25, +1 spare
    out.write(card("XTENSION", "TABLE", quote = true))
    out.write(card("BITPIX", "8", quote = false))
    out.write(card("NAXIS", "2", quote = false))
    out.write(card("NAXIS1", "30", quote = false))
    out.write(card("NAXIS2", "3", quote = false))
    out.write(card("PCOUNT", "0", quote = false))
    out.write(card("GCOUNT", "1", quote = false))
    out.write(card("TFIELDS", "4", quote = false))
    out.write(card("TTYPE1", "name", quote = true))
    out.write(card("TFORM1", "A8", quote = true))
    out.write(card("TBCOL1", "1", quote = false))
    out.write(card("TTYPE2", "count", quote = true))
    out.write(card("TFORM2", "I6", quote = true))
    out.write(card("TBCOL2", "9", quote = false))
    out.write(card("TNULL2", "-99", quote = true))
    out.write(card("TTYPE3", "flux", quote = true))
    out.write(card("TFORM3", "E10.3", quote = true))
    out.write(card("TBCOL3", "15", quote = false))
    out.write(card("TTYPE4", "mag", quote = true))
    out.write(card("TFORM4", "F5.2", quote = true))
    out.write(card("TBCOL4", "25", quote = false))
    out.write(endCard); pad(' '.toByte)

    def f(name: String, count: String, flux: String, mag: String) = {
      def right(s: String, w: Int) = (" " * (w - s.length)) + s
      name.padTo(8, ' ') + right(count, 6) + right(flux, 10) + right(mag, 5) + " "
    }
    val rows = Seq(
      f("sirius", "42", "1.234E+02", "-1.46"),
      f("vega", "-99", "2.500D+01", "0.03"), // TNULL int; Fortran D exponent
      f("algol", "7", "", "12.50")) // blank flux → NULL
    rows.foreach(r => out.write(r.take(30).padTo(30, ' ').getBytes(StandardCharsets.US_ASCII)))
    pad(' '.toByte)
    out.close()

    val df = spark.read.format("fits").load(p)
    assert(df.schema == StructType(Seq(
      StructField("name", StringType), StructField("count", LongType),
      StructField("flux", DoubleType), StructField("mag", DoubleType))))
    val got = df.collect()
    assert(got(0).getString(0) == "sirius" && got(0).getLong(1) == 42 &&
      got(0).getDouble(2) == 123.4 && got(0).getDouble(3) == -1.46)
    assert(got(1).isNullAt(1), "TNULL string must map to SQL NULL")
    assert(got(1).getDouble(2) == 25.0, "Fortran D exponent must parse")
    assert(got(2).isNullAt(2), "blank field must map to SQL NULL")
    assert(got(2).getDouble(3) == 12.50)
    // column pruning works through the ASCII path too
    assert(df.select("count").collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq ==
      Seq(Some(42L), None, Some(7L)))
  }

  test("writers reject what cannot round-trip: NULL cells, bad varCols/tdims") {
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = true),
      StructField("v", ArrayType(FloatType), nullable = true)))
    // NULL cell in the binary writer → loud failure BEFORE bytes hit disk
    val e1 = intercept[IllegalArgumentException] {
      FitsWriter.write("/tmp/graft_test/null_cell.fits", schema,
        Seq(Row(1, null)), arrayLens = Map("v" -> 2))
    }
    assert(e1.getMessage.contains("NULL cell"))
    // NULL in a VAR-LENGTH cell must hit the same loud guard (the stats
    // path reads var lengths before encode — it must not NPE first)
    val e1v = intercept[IllegalArgumentException] {
      FitsWriter.write("/tmp/graft_test/null_var.fits", schema,
        Seq(Row(1, null)), varCols = Map("v" -> 'P'))
    }
    assert(e1v.getMessage.contains("NULL cell"))
    // varCols naming a scalar column would corrupt record layout
    val e2 = intercept[IllegalArgumentException] {
      FitsWriter.write("/tmp/graft_test/bad_var.fits", schema,
        Seq.empty, varCols = Map("id" -> 'P'))
    }
    assert(e2.getMessage.contains("varCols"))
    // tdims without a matching arrayLens used to pass vacuously
    val e3 = intercept[IllegalArgumentException] {
      FitsWriter.write("/tmp/graft_test/bad_tdim.fits", schema,
        Seq.empty, tdims = Map("v" -> Seq(3, 2)))
    }
    assert(e3.getMessage.contains("TDIM"))
    // ASCII writer: un-round-trippable strings rejected; NULLs accepted
    val s2 = StructType(Seq(StructField("s", StringType, nullable = true)))
    val e4 = intercept[IllegalArgumentException] {
      FitsWriter.writeAscii("/tmp/graft_test/bad_str.fits", s2,
        Seq(Row("trailing ")), strLens = Map("s" -> 10))
    }
    assert(e4.getMessage.contains("round-trip"))
    val p = "/tmp/graft_test/ascii_null.fits"
    FitsWriter.writeAscii(p, s2, Seq(Row("x"), Row(null)), strLens = Map("s" -> 4))
    val back = spark.read.format("fits").load(p).collect()
    assert(back(0).getString(0) == "x" && back(1).isNullAt(0),
      "ASCII NULL cell must round-trip as NULL")
  }

  test("TDIM incompatible with repeat count is rejected") {
    val e = intercept[IllegalArgumentException] {
      FitsFormat.tableSpec(Map(
        "XTENSION" -> "BINTABLE", "NAXIS1" -> "24", "NAXIS2" -> "1",
        "TFIELDS" -> "1", "TFORM1" -> "6E", "TTYPE1" -> "img",
        "TDIM1" -> "(4,2)"))
    }
    assert(e.getMessage.contains("TDIM"))
  }

  test("image HDUs: locateImage finds both extensions with correct geometry") {
    val path = Util.scratch("img_locate.fits")
    FitsWriter.writeImageFits(path, 16, 5L)
    val raf = new java.io.RandomAccessFile(path, "r")
    try {
      raf.seek(0)
      val s1 = FitsFormat.locateImage(raf, 0)
      assert(s1.bitpix == 16 && s1.width == 16 && s1.height == 5)
      assert(s1.bscale == 2.0 && s1.bzero == 100.0 && s1.blank.contains(250L))
      // data starts block-aligned right after primary (2880) + ext header
      assert(s1.dataOffset % FitsFormat.BlockSize == 0 && s1.dataOffset >= 2 * 2880)
      raf.seek(0)
      val s2 = FitsFormat.locateImage(raf, 1)
      assert(s2.bitpix == -32 && s2.width == 16 && s2.height == 5)
      assert(s2.bscale == 1.0 && s2.bzero == 0.0 && s2.blank.isEmpty)
      assert(s2.dataOffset > s1.dataOffset)
      raf.seek(0)
      intercept[IllegalArgumentException](FitsFormat.locateImage(raf, 2))
    } finally raf.close()
  }

  test("image HDUs: pixels decode byte-exactly with scaling, BLANK and NaN masks") {
    val path = Util.scratch("img_decode.fits")
    FitsWriter.writeImageFits(path, 16, 5L)
    val raf = new java.io.RandomAccessFile(path, "r")
    try {
      raf.seek(0); val s1 = FitsFormat.locateImage(raf, 0)
      raf.seek(0); val s2 = FitsFormat.locateImage(raf, 1)
      for (y <- 0L until 5L) {
        val b1 = new Array[Byte](s1.rowBytes.toInt)
        raf.seek(s1.dataOffset + y * s1.rowBytes); raf.readFully(b1)
        val bb1 = ByteBuffer.wrap(b1)
        val b2 = new Array[Byte](s2.rowBytes.toInt)
        raf.seek(s2.dataOffset + y * s2.rowBytes); raf.readFully(b2)
        val bb2 = ByteBuffer.wrap(b2)
        for (x <- 0 until 16) {
          val raw = FitsWriter.imageRaw(x, y)
          assert(bb1.getShort(x * 2).toLong == raw, s"int16 raw at ($x,$y)")
          val f = bb2.getFloat(x * 4)
          if (raw == 250L) assert(f.isNaN, s"float mask at ($x,$y)")
          else assert(f == raw / 4.0f, s"float value at ($x,$y)")
        }
      }
      // the two missing conventions mask the SAME pixels (BLANK ≡ NaN)
      // and the sentinel is genuinely present somewhere in a tall frame
      val tall = Util.scratch("img_tall.fits")
      FitsWriter.writeImageFits(tall, 64, 300L)
      var masked = 0
      for (y <- 0L until 300L; x <- 0 until 64
           if FitsWriter.imageRaw(x, y) == 250L) masked += 1
      assert(masked > 0, "fixture never exercises the missing-pixel path")
    } finally raf.close()
  }

  test("cube HDUs: locateImage finds all four NAXIS3 extensions with correct geometry") {
    val path = Util.scratch("cube_locate.fits")
    FitsWriter.writeCubeFits(path, 16, 5L, 3L)
    val raf = new java.io.RandomAccessFile(path, "r")
    try {
      val expect = Seq(
        (8, 3.0, 10.0, Some(250L)),
        (32, 2.0, -500.0, Some(250L)),
        (64, 1.0, 0.0, Some(FitsWriter.CubeBlank64)),
        (-64, 1.0, 0.0, None))
      var prevOff = 0L
      expect.zipWithIndex.foreach { case ((bp, sc, z0, blank), i) =>
        raf.seek(0)
        val sp = FitsFormat.locateImage(raf, i)
        assert(sp.bitpix == bp && sp.width == 16 && sp.height == 5 &&
          sp.depth == 3, s"geometry of cube ext #$i")
        assert(sp.bscale == sc && sp.bzero == z0 && sp.blank == blank,
          s"scaling/blank of cube ext #$i")
        assert(sp.dataOffset % FitsFormat.BlockSize == 0 &&
          sp.dataOffset > prevOff, s"alignment of cube ext #$i")
        prevOff = sp.dataOffset
        // the one addressing rule: plane stride = height · rowBytes
        assert(sp.rowOffset(2, 4) - sp.rowOffset(0, 0) ==
          (2 * 5 + 4) * sp.rowBytes, s"rowOffset stride of ext #$i")
      }
      raf.seek(0)
      intercept[IllegalArgumentException](FitsFormat.locateImage(raf, 4))
    } finally raf.close()
  }

  test("cube HDUs: every BITPIX decodes byte-exactly incl. sign, BLANK and NaN") {
    val path = Util.scratch("cube_decode.fits")
    // 64-wide plane: (3y + 5x + 11z + 7) crosses 251, so the sentinel
    // and the unsigned byte range genuinely occur (16x5 never reaches 250)
    FitsWriter.writeCubeFits(path, 64, 64L, 2L)
    val raf = new java.io.RandomAccessFile(path, "r")
    try {
      val specs = (0 until 4).map { i =>
        raf.seek(0); FitsFormat.locateImage(raf, i)
      }
      var masked = 0
      for (z <- 0L until 2L; y <- 0L until 64L) {
        val rows = specs.map { sp =>
          val b = new Array[Byte](sp.rowBytes.toInt)
          raf.seek(sp.rowOffset(z, y)); raf.readFully(b)
          ByteBuffer.wrap(b)
        }
        for (x <- 0 until 64) {
          val raw = FitsWriter.cubeRaw(x, y, z)
          // BITPIX 8 is UNSIGNED: raw 128..250 must survive the byte
          assert((rows(0).get(x) & 0xff).toLong == raw, s"u8 raw at ($x,$y,$z)")
          assert(rows(1).getInt(x * 4).toLong == raw, s"i32 raw at ($x,$y,$z)")
          assert(rows(2).getLong(x * 8) == raw * 2654435761L, s"i64 at ($x,$y,$z)")
          val v = rows(3).getDouble(x * 8)
          if (raw == 250L) { assert(v.isNaN, s"f64 mask at ($x,$y,$z)"); masked += 1 }
          else assert(v == raw / 8.0, s"f64 value at ($x,$y,$z)")
        }
      }
      assert(masked > 0, "fixture never exercises the missing-pixel path")
      val highByte = (for (z <- 0L until 2L; y <- 0L until 64L; x <- 0 until 64)
        yield FitsWriter.cubeRaw(x, y, z)).count(_ > 127)
      assert(highByte > 0, "no raw value above 127 — unsigned decode untested")
    } finally raf.close()
  }

  test("locateImage skips table HDUs; locateTable skips image HDUs") {
    // a file holding ONLY images has no table — and vice versa the a7
    // table files hold no image: the two walks must not confuse HDU kinds
    val path = Util.scratch("img_only.fits")
    FitsWriter.writeImageFits(path, 16, 3L)
    val raf = new java.io.RandomAccessFile(path, "r")
    try {
      raf.seek(0)
      intercept[IllegalArgumentException](FitsFormat.locateTable(raf, 0))
    } finally raf.close()
  }

  // ---- r8 FITS-review regression gates --------------------------------

  test("card escapes embedded quotes (round-trip) and rejects over-capacity values") {
    val p = "/tmp/graft_test/quote_col.fits"
    val sch = StructType(Seq(StructField("O'Brien", IntegerType)))
    FitsWriter.write(p, sch, Seq(Row(7), Row(8)))
    val back = spark.read.format("fits").load(p)
    // pre-fix the writer emitted TTYPE1 = 'O'Brien ' (unterminated per
    // §4.2.1) and the reader parsed the name back as just "O"
    assert(back.schema.fields.map(_.name).toSeq == Seq("O'Brien"))
    assert(back.collect().map(_.getInt(0)).sorted.toSeq == Seq(7, 8))
    val longName = StructType(Seq(StructField("x" * 69, IntegerType)))
    val e = intercept[IllegalArgumentException](FitsWriter.write(
      "/tmp/graft_test/longname.fits", longName, Seq(Row(1))))
    assert(e.getMessage.contains("68-char card capacity"),
      s"over-long value must fail loudly, not truncate: ${e.getMessage}")
  }

  test("writeAscii rejects NaN/Infinity doubles (no Fw.d representation)") {
    val sch = StructType(Seq(StructField("x", DoubleType)))
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity).foreach { v =>
      val e = intercept[IllegalArgumentException](FitsWriter.writeAscii(
        "/tmp/graft_test/nan_ascii.fits", sch, Seq(Row(v))))
      assert(e.getMessage.contains("no Fw.d representation"), s"for $v")
    }
  }

  test("zero-repeat numeric column decodes as NULL, not the neighbor's bytes") {
    // TFORM '0E' is legal (FITS 4.0 §7.3.1) and occupies no record bytes;
    // pre-fix the scalar decode read column 2's int32 as a float
    val p = "/tmp/graft_test/zerorep.fits"
    val out = new DataOutputStream(new FileOutputStream(p))
    def pad(fill: Byte): Unit =
      out.write(Array.fill((2880 - out.size() % 2880) % 2880)(fill))
    out.write(card("SIMPLE", "T", quote = false))
    out.write(card("BITPIX", "8", quote = false))
    out.write(card("NAXIS", "0", quote = false))
    out.write(endCard); pad(' '.toByte)
    out.write(card("XTENSION", "BINTABLE", quote = true))
    out.write(card("BITPIX", "8", quote = false))
    out.write(card("NAXIS", "2", quote = false))
    out.write(card("NAXIS1", "4", quote = false))
    out.write(card("NAXIS2", "2", quote = false))
    out.write(card("PCOUNT", "0", quote = false))
    out.write(card("GCOUNT", "1", quote = false))
    out.write(card("TFIELDS", "2", quote = false))
    out.write(card("TTYPE1", "empty", quote = true))
    out.write(card("TFORM1", "0E", quote = true))
    out.write(card("TTYPE2", "v", quote = true))
    out.write(card("TFORM2", "J", quote = true))
    out.write(endCard); pad(' '.toByte)
    val buf = ByteBuffer.allocate(8)
    buf.putInt(11); buf.putInt(22)
    out.write(buf.array()); pad(0.toByte)
    out.close()
    val rows = spark.read.format("fits").load(p).collect()
    assert(rows.length == 2)
    assert(rows.forall(_.isNullAt(0)), "zero-repeat cell must be NULL")
    assert(rows.map(_.getInt(1)).toSeq == Seq(11, 22),
      "neighbor column must decode its own bytes")
  }

  test("spec cache refreshes when a file is overwritten in place") {
    val p = "/tmp/graft_test/stale_spec.fits"
    val sch = StructType(Seq(StructField("v", IntegerType)))
    FitsWriter.write(p, sch, Seq(Row(1), Row(2)))
    assert(spark.read.format("fits").load(p).count() == 2)
    // pre-fix the (path, extnum)-keyed cache served the 2-row spec here
    FitsWriter.write(p, sch, (1 to 5).map(Row(_)))
    assert(spark.read.format("fits").load(p).count() == 5,
      "overwritten file must be re-planned from its new header")
  }

  test("locateTable reaches a table past 100 prior HDUs (no silent cap)") {
    val base = "/tmp/graft_test/manyhdu_base.fits"
    val sch = StructType(Seq(StructField("v", IntegerType)))
    FitsWriter.write(base, sch, Seq(Row(5)))
    val bytes = Files.readAllBytes(Paths.get(base))
    val hdus = FitsFormat.walkHdus(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes)), bytes.length.toLong)
    val extStart = hdus(1).headerStart.toInt
    val p = "/tmp/graft_test/manyhdu.fits"
    val out = new DataOutputStream(new FileOutputStream(p))
    out.write(bytes, 0, extStart) // primary HDU verbatim
    (0 until 120).foreach { _ => // 120 header-only IMAGE extensions
      out.write(card("XTENSION", "IMAGE", quote = true))
      out.write(card("BITPIX", "8", quote = false))
      out.write(card("NAXIS", "0", quote = false))
      out.write(card("PCOUNT", "0", quote = false))
      out.write(card("GCOUNT", "1", quote = false))
      out.write(endCard)
      out.write(Array.fill(2880 - 6 * 80)(' '.toByte))
    }
    out.write(bytes, extStart, bytes.length - extStart) // the real table
    out.close()
    // pre-fix: 'No table extension #0 found' after the 100-HDU bound
    val got = spark.read.format("fits").load(p).collect()
    assert(got.map(_.getInt(0)).toSeq == Seq(5))
  }

  test("negative heap offset in a P descriptor fails loudly, not silently misreads") {
    val p = "/tmp/graft_test/badheap.fits"
    val out = new DataOutputStream(new FileOutputStream(p))
    def pad(fill: Byte): Unit =
      out.write(Array.fill((2880 - out.size() % 2880) % 2880)(fill))
    out.write(card("SIMPLE", "T", quote = false))
    out.write(card("BITPIX", "8", quote = false))
    out.write(card("NAXIS", "0", quote = false))
    out.write(endCard); pad(' '.toByte)
    out.write(card("XTENSION", "BINTABLE", quote = true))
    out.write(card("BITPIX", "8", quote = false))
    out.write(card("NAXIS", "2", quote = false))
    out.write(card("NAXIS1", "8", quote = false))
    out.write(card("NAXIS2", "1", quote = false))
    out.write(card("PCOUNT", "12", quote = false))
    out.write(card("GCOUNT", "1", quote = false))
    out.write(card("TFIELDS", "1", quote = false))
    out.write(card("TTYPE1", "varr", quote = true))
    out.write(card("TFORM1", "PJ(3)", quote = true))
    out.write(endCard); pad(' '.toByte)
    val buf = ByteBuffer.allocate(8 + 12)
    buf.putInt(3); buf.putInt(-16) // corrupt: negative heap offset
    buf.putInt(1); buf.putInt(2); buf.putInt(3)
    out.write(buf.array()); pad(0.toByte)
    out.close()
    val e = intercept[org.apache.spark.SparkException](
      spark.read.format("fits").load(p).collect())
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
    assert(chain(e).exists(m => m != null && m.contains("descriptor out of range")),
      s"expected the descriptor guard, got: ${chain(e).mkString(" | ")}")
  }
}
