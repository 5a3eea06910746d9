package graft

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.US_ASCII

import graft.fits._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.{ColumnarToRowExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch

/** The columnar FITS reader at its batch edges: row counts off the batch
  * grid, splits that start mid-block, empty ranges and tables, tiles
  * larger and smaller than a batch, gzip, empty and reordered
  * projections, micro-batches, and every TFORM kind's vector value
  * against the scalar reference decoders (`FitsFormat.decodeElem`,
  * `applyScale`, `asciiCell`, `decodeAsciiField`).
  */
class FitsColumnarSpec extends SparkTestBase {
  private val batch = FitsPartitionReader.BatchRows
  // two full batches and a partial third
  private val n = 2 * batch + 1808

  private def source(rows: Int): DataFrame = {
    import spark.implicits._
    spark.range(rows).map { i =>
      (i, (i * 7 % 1000).toInt, (i % 300 - 150).toShort, i * 0.25,
        (i % 97).toFloat, s"s${i * 13 % 10007}")
    }.toDF("k", "j", "i16", "d", "e", "s")
  }

  private lazy val plain: String = {
    val p = Util.scratch("columnar_plain.fits")
    FitsWriter.writeDataFrame(p, source(n).coalesce(1), strLens = Map("s" -> 8))
    p
  }

  private def read(path: String, rowsPerSplit: Option[Long] = None): DataFrame = {
    val r = spark.read.format("fits")
    rowsPerSplit.fold(r)(k => r.option("rowsPerSplit", k.toString)).load(path)
  }

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "columnar read differs from the source")
  }

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  /** Every batch of a split, through the reader the scan uses. */
  private def batches(p: FitsInputPartition, required: StructType)
      (check: ColumnarBatch => Unit): Unit = {
    val conf = spark.sparkContext.broadcast(new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration))
    val r = new FitsReaderFactory(required, conf).createColumnarReader(p)
    try while (r.next()) check(r.get()) finally r.close()
  }

  test("a row count off the batch grid, and splits that start mid-block") {
    assertSame(read(plain), source(n))
    // 3000-row splits: the second starts 3000 rows into the file's first block
    val split = read(plain, Some(3000L))
    assert(split.rdd.getNumPartitions == 4)
    assertSame(split, source(n))
    // batch sizes: full batches, then the remainder of the split
    val swo = FitsTable.readSpec(plain, 0)
    val sizes = Seq.newBuilder[Int]
    batches(FitsInputPartition(plain, swo, 3000, n, 0, swo.spec.rowBytes.toLong * n),
      swo.spec.schema)(b => sizes += b.numRows)
    assert(sizes.result() == Seq(batch, n - 3000 - batch))
  }

  test("an empty range and a 0-row table yield no batch") {
    val swo = FitsTable.readSpec(plain, 0)
    var seen = 0
    batches(FitsInputPartition(plain, swo, 7, 7, 0, 0), swo.spec.schema)(_ => seen += 1)
    assert(seen == 0)
    val empty = Util.scratch("columnar_empty.fits")
    FitsWriter.writeDataFrame(empty, source(0), strLens = Map("s" -> 8))
    assert(read(empty).count() == 0 && read(empty).collect().isEmpty)
    assert(read(empty).schema.map(f => (f.name, f.dataType)) ==
      source(0).schema.map(f => (f.name, f.dataType)))
  }

  test("tiles larger and smaller than a batch decode across tile boundaries") {
    Seq(100, batch + 1000).foreach { tileLen =>
      val p = Util.scratch(s"columnar_tiled_$tileLen.fits")
      FitsWriter.writeTiledDataFrame(p, source(n), tileLen = tileLen,
        strLens = Map("s" -> 8))
      assertSame(read(p), source(n))
      assertSame(read(p, Some(3L * tileLen)).select("s", "k"), source(n).select("s", "k"))
    }
  }

  test("a gzipped member reads the same rows") {
    val gz = Util.scratch("columnar_plain.fits.gz")
    val out = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(gz))
    try out.write(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(plain)))
    finally out.close()
    assertSame(read(gz), source(n))
  }

  test("empty, pruned and reordered projections") {
    assert(read(plain).count() == n)
    assert(read(plain).where(col("k") % 3 === 0).count() == (n + 2) / 3)
    assertSame(read(plain).select("s", "d", "k"), source(n).select("s", "d", "k"))
    assertSame(read(plain, Some(1000L)).select("e"), source(n).select("e"))
  }

  test("a micro-batch read goes through the same columnar reader") {
    val dir = Util.scratch("columnar_stream")
    Util.deleteRecursively(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.copy(java.nio.file.Paths.get(plain),
      java.nio.file.Paths.get(s"$dir/a.fits"))
    val out = s"$dir/out"
    spark.readStream.format("fits").load(s"$dir/*.fits")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    assertSame(spark.read.parquet(out), source(n))
  }

  test("the plan converts columnar batches to rows over the batch scan") {
    val p = plan(read(plain).select("k", "s"))
    val c2r = p.collect { case c: ColumnarToRowExec => c }
    assert(c2r.size == 1, s"no ColumnarToRow in\n$p")
    assert(c2r.head.collect { case b: BatchScanExec => b }.size == 1,
      s"ColumnarToRow not over BatchScan:\n$p")
  }

  test("scan metrics: bytes read, rows decoded, tiles decompressed, decode time") {
    def metrics(df: DataFrame): Map[String, Long] = {
      df.collect()
      val scan = plan(df).collectFirst { case b: BatchScanExec => b }.get
      FitsMetrics.supported.map(m => m.name -> scan.metrics(m.name).value).toMap
    }
    val swo = FitsTable.readSpec(plain, 0)
    val m = metrics(read(plain, Some(3000L)))
    assert(m(FitsMetrics.RowsDecoded) == n)
    assert(m(FitsMetrics.BytesRead) == swo.spec.rowBytes.toLong * n)
    assert(m(FitsMetrics.TilesDecompressed) == 0)
    assert(m(FitsMetrics.DecodeTime) > 0)

    val tiled = Util.scratch("columnar_metrics_tiled.fits")
    FitsWriter.writeTiledDataFrame(tiled, source(n), tileLen = 1000,
      strLens = Map("s" -> 8))
    val t = metrics(read(tiled).select("k", "s"))
    assert(t(FitsMetrics.RowsDecoded) == n)
    assert(t(FitsMetrics.TilesDecompressed) == 10) // 10000 rows / 1000
    val len = new java.io.File(tiled).length()
    assert(t(FitsMetrics.BytesRead) > 0 && t(FitsMetrics.BytesRead) < len)
    assert(t(FitsMetrics.DecodeTime) > 0)
  }

  // ------------------------------------------------ per-TFORM reference

  private def card(k: String, v: String): Array[Byte] =
    (k.padTo(8, ' ') + "= " + v).padTo(80, ' ').getBytes(US_ASCII)
  private def q(s: String) = s"'$s'"

  /** A file of one primary HDU and one table extension. */
  private def writeTable(path: String, cards: Seq[(String, String)],
      data: Array[Byte]): Unit = {
    val out = new java.io.ByteArrayOutputStream()
    def block(cs: Seq[(String, String)]): Unit = {
      cs.foreach { case (k, v) => out.write(card(k, v)) }
      out.write("END".padTo(80, ' ').getBytes(US_ASCII))
      out.write(Array.fill((2880 - out.size % 2880) % 2880)(' '.toByte))
    }
    block(Seq("SIMPLE" -> "T", "BITPIX" -> "8", "NAXIS" -> "0"))
    block(cards)
    out.write(data)
    out.write(Array.fill((2880 - out.size % 2880) % 2880)(0.toByte))
    java.nio.file.Files.write(java.nio.file.Paths.get(path), out.toByteArray)
  }

  /** The reference: the scalar decoders applied cell by cell. */
  private def refCell(c: FitsFormat.ColSpec, rec: ByteBuffer, base: Int,
      heap: ByteBuffer): Any = {
    def elems(b: ByteBuffer, at: Int, k: Int): Array[Any] = Array.tabulate(k) { i =>
      val raw = FitsFormat.decodeElem(b, at + i * c.elemBytes, c)
      if (c.hasScaling) FitsFormat.applyScale(raw, c) else raw
    }
    def nest(flat: Array[Any], dims: Seq[Int]): GenericArrayData =
      if (dims.length == 1) new GenericArrayData(flat)
      else {
        val chunk = flat.length / dims.last
        new GenericArrayData(Array.tabulate[Any](dims.last)(o =>
          nest(flat.slice(o * chunk, (o + 1) * chunk), dims.init)))
      }
    c.varDesc match {
      case Some(d) =>
        val (cnt, off) =
          if (d == 'P') (rec.getInt(base).toLong, rec.getInt(base + 4).toLong)
          else (rec.getLong(base), rec.getLong(base + 8))
        c.code match {
          case 'X' => java.util.Arrays.copyOfRange(heap.array, off.toInt, (off + (cnt + 7) / 8).toInt)
          case 'A' => FitsFormat.asciiCell(heap.array, off.toInt, cnt.toInt)
          case _ => new GenericArrayData(elems(heap, off.toInt, cnt.toInt))
        }
      case None => c.code match {
        case 'A' => FitsFormat.asciiCell(rec.array, base, c.repeat)
        case 'X' => java.util.Arrays.copyOfRange(rec.array, base, base + c.byteWidth)
        case _ if c.repeat == 0 => null
        case _ if c.repeat > 1 => nest(elems(rec, base, c.repeat),
          c.tdim.filter(_.length >= 2).getOrElse(Seq(c.repeat)))
        case _ => elems(rec, base, 1)(0)
      }
    }
  }

  /** Internal values (vector or reference) as comparable Scala values. */
  private def norm(v: Any, dt: DataType): Any = if (v == null) null else dt match {
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      (0 until a.numElements).map(i => if (a.isNullAt(i)) null else norm(a.get(i, et), et))
    case st: StructType =>
      val r = v.asInstanceOf[InternalRow]
      st.fields.indices.map(i =>
        if (r.isNullAt(i)) null else norm(r.get(i, st(i).dataType), st(i).dataType))
    case BinaryType => v.asInstanceOf[Array[Byte]].toSeq
    case StringType => v.toString
    case _ => v
  }

  test("per TFORM kind, vector values equal the scalar reference decoders") {
    // (TFORM, extra cards) — each column is named c<i>
    val cols: Seq[(String, Seq[(String, String)])] = Seq(
      "L" -> Nil, "3L" -> Nil,
      "B" -> Nil, "B" -> Seq("TZERO" -> "-128"), "B" -> Seq("TNULL" -> "7"),
      "B" -> Seq("TSCAL" -> "0.5", "TZERO" -> "-3"),
      "I" -> Seq("TNULL" -> "-1"), "I" -> Seq("TZERO" -> "32768"),
      "I" -> Seq("TSCAL" -> "0.5", "TZERO" -> "3", "TNULL" -> "-1"),
      "J" -> Seq("TNULL" -> "-1"), "J" -> Seq("TZERO" -> "2147483648"),
      "J" -> Seq("TSCAL" -> "1.5"),
      "K" -> Seq("TNULL" -> "-1"),
      "K" -> Seq("TZERO" -> "9223372036854775808", "TNULL" -> "-1"),
      "K" -> Seq("TZERO" -> "1"),
      "E" -> Nil, "E" -> Seq("TSCAL" -> "2", "TZERO" -> "0.5"),
      "D" -> Nil, "D" -> Seq("TZERO" -> "-1"),
      "C" -> Nil, "M" -> Nil, "2C" -> Nil,
      "12A" -> Nil, "0A" -> Nil, "13X" -> Nil, "0E" -> Nil,
      "6I" -> Seq("TDIM" -> q("(3,2)")), "24E" -> Seq("TDIM" -> q("(2,3,4)")),
      "4J" -> Seq("TZERO" -> "2147483648"),
      "PJ" -> Seq("TNULL" -> "-1"), "PA" -> Nil, "PX" -> Nil,
      "QD" -> Seq("TSCAL" -> "2"), "PC" -> Nil, "QK" -> Seq("TZERO" -> "9223372036854775808"),
      "PL" -> Nil)
    val rnd = new scala.util.Random(20261019)
    val specs = cols.zipWithIndex.map { case ((tf, extra), i) =>
      val (code, repeat, varDesc) = FitsFormat.parseTform(tf)
      val ex = extra.toMap
      FitsFormat.ColSpec(s"c$i", code, repeat, ex.get("TSCAL").map(_.toDouble),
        ex.get("TZERO").map(_.toDouble), ex.get("TNULL").map(_.toLong), varDesc,
        ex.get("TDIM").map(_.stripPrefix("'(").stripSuffix(")'").split(",").map(_.toInt).toSeq))
    }
    val rowBytes = specs.map(_.byteWidth).sum
    val rows = 5000
    val main = ByteBuffer.allocate(rowBytes * rows)
    val heap = ByteBuffer.allocate(rows * specs.count(_.varDesc.isDefined) * 6 * 16)
    val text = (Seq(' ', ' ', '\t', '\u0000', 'é') ++ ('a' to 'z')).map(_.toByte)
    def elem(c: FitsFormat.ColSpec, b: ByteBuffer, at: Int): Unit = {
      val hit = c.hasTnull && rnd.nextInt(6) == 0
      c.code match {
        case 'L' => b.put(at, Seq('T', 'F', '\u0000', 'x')(rnd.nextInt(4)).toByte)
        case 'A' => b.put(at, text(rnd.nextInt(text.size)))
        case 'X' => b.put(at, rnd.nextInt(256).toByte)
        case 'B' => b.put(at, if (hit) c.tnullValue.toByte else rnd.nextInt(256).toByte)
        case 'I' => b.putShort(at, if (hit) c.tnullValue.toShort else rnd.nextInt(65536).toShort)
        case 'J' => b.putInt(at, if (hit) c.tnullValue.toInt else rnd.nextInt())
        case 'K' => b.putLong(at, if (hit) c.tnullValue else rnd.nextLong())
        case 'E' => b.putFloat(at, rnd.nextInt(10) match {
          case 0 => Float.NaN; case 1 => Float.NegativeInfinity
          case _ => rnd.nextFloat() * 1000 - 500 })
        case 'D' => b.putDouble(at, rnd.nextInt(10) match {
          case 0 => Double.NaN; case 1 => Double.PositiveInfinity
          case _ => rnd.nextDouble() * 1e6 - 5e5 })
        case 'C' => b.putFloat(at, rnd.nextFloat()); b.putFloat(at + 4, -rnd.nextFloat())
        case 'M' => b.putDouble(at, rnd.nextDouble()); b.putDouble(at + 8, -rnd.nextDouble())
      }
    }
    val offsets = specs.scanLeft(0)(_ + _.byteWidth)
    (0 until rows).foreach { r =>
      specs.zip(offsets).foreach { case (c, o) =>
        val base = r * rowBytes + o
        c.varDesc match {
          case Some(d) =>
            val cnt = if (c.code == 'X') rnd.nextInt(20) else rnd.nextInt(6)
            val nBytes = if (c.code == 'X') (cnt + 7) / 8 else cnt * c.elemBytes
            val off = heap.position()
            (0 until nBytes by c.elemBytes).foreach(k => elem(c, heap, off + k))
            heap.position(off + nBytes)
            if (d == 'P') { main.putInt(base, cnt); main.putInt(base + 4, off) }
            else { main.putLong(base, cnt.toLong); main.putLong(base + 8, off.toLong) }
          case None =>
            val width = if (c.code == 'X') c.byteWidth else c.repeat
            (0 until width).foreach(k => elem(c, main, base + k * c.elemBytes))
        }
      }
    }
    val heapBytes = java.util.Arrays.copyOf(heap.array, heap.position())
    val p = Util.scratch("columnar_kinds.fits")
    writeTable(p, Seq("XTENSION" -> q("BINTABLE"), "BITPIX" -> "8", "NAXIS" -> "2",
      "NAXIS1" -> rowBytes.toString, "NAXIS2" -> rows.toString,
      "PCOUNT" -> heapBytes.length.toString, "GCOUNT" -> "1",
      "TFIELDS" -> specs.size.toString) ++
      cols.zipWithIndex.flatMap { case ((tf, extra), i) =>
        Seq(s"TTYPE${i + 1}" -> q(s"c$i"), s"TFORM${i + 1}" -> q(tf)) ++
          extra.map { case (k, v) => s"$k${i + 1}" -> v }
      }, main.array ++ heapBytes)

    val swo = FitsTable.readSpec(p, 0)
    val spec = swo.spec.asInstanceOf[FitsFormat.TableSpec]
    assert(spec.cols == specs)
    val whole = FitsScan.splitsFor(Seq(p), 0, spec.schema, None)
      .map(_.asInstanceOf[FitsInputPartition]).toSeq
    assert(whole.map(s => (s.rowStart, s.rowEnd)) == Seq((0L, rows.toLong)))
    val heapBuf = ByteBuffer.wrap(heapBytes)
    val reordered = StructType(spec.schema.fields.reverse.zipWithIndex
      .collect { case (f, i) if i % 3 != 1 => f })
    Seq((spec.schema, 0L, rows.toLong), (reordered, 1234L, 4567L)).foreach {
      case (required, a, b) =>
        var r = a
        batches(whole.head.copy(rowStart = a, rowEnd = b), required) { cb =>
          (0 until cb.numRows).foreach { i =>
            val row = cb.getRow(i)
            required.fields.zipWithIndex.foreach { case (f, k) =>
              val ci = spec.cols.indexWhere(_.name == f.name)
              val want = norm(refCell(spec.cols(ci), main,
                (r + i).toInt * rowBytes + spec.offsets(ci), heapBuf), f.dataType)
              val got = if (row.isNullAt(k)) null else norm(row.get(k, f.dataType), f.dataType)
              assert(got == want, s"row ${r + i}, ${f.name} (${cols(ci)._1})")
            }
          }
          r += cb.numRows
        }
        assert(r == b)
    }
    assert(read(p).count() == rows)
  }

  test("ASCII TABLE fields: vector values equal decodeAsciiField") {
    // (TFORM, width, extra cards, a random field)
    val rnd = new scala.util.Random(7)
    def num(w: Int, s: String): String = if (rnd.nextInt(8) == 0) " " * w
      else s.reverse.padTo(w, ' ').reverse
    val fields: Seq[(String, Int, Seq[(String, String)], () => String)] = Seq(
      ("A8", 8, Nil, () => Seq.fill(rnd.nextInt(9))(
        " abcxyz"(rnd.nextInt(7))).mkString.padTo(8, ' ')),
      ("I6", 6, Seq("TNULL" -> q("-99")), () =>
        num(6, if (rnd.nextInt(5) == 0) "-99" else (rnd.nextInt(20000) - 10000).toString)),
      ("I5", 5, Seq("TSCAL" -> "0.5", "TZERO" -> "3"), () =>
        num(5, (rnd.nextInt(19999) - 9999).toString)),
      ("F10.3", 10, Seq("TSCAL" -> "2"), () =>
        num(10, "%.3f".formatLocal(java.util.Locale.ROOT, rnd.nextDouble() * 1000 - 500))),
      ("E12.4", 12, Nil, () =>
        num(12, "%.4E".formatLocal(java.util.Locale.ROOT, rnd.nextGaussian() * 1e5))),
      ("D14.6", 14, Nil, () =>
        num(14, "%.6E".formatLocal(java.util.Locale.ROOT, rnd.nextGaussian()).replace('E', 'D'))))
    val starts = fields.scanLeft(0)(_ + _._2)
    val rowBytes = starts.last
    val rows = 4500
    val data = (0 until rows).flatMap(_ => fields.map(_._4()).mkString).map(_.toByte).toArray
    val p = Util.scratch("columnar_ascii.fits")
    writeTable(p, Seq("XTENSION" -> q("TABLE"), "BITPIX" -> "8", "NAXIS" -> "2",
      "NAXIS1" -> rowBytes.toString, "NAXIS2" -> rows.toString, "PCOUNT" -> "0",
      "GCOUNT" -> "1", "TFIELDS" -> fields.size.toString) ++
      fields.zipWithIndex.flatMap { case ((tf, _, extra, _), i) =>
        Seq(s"TTYPE${i + 1}" -> q(s"f$i"), s"TFORM${i + 1}" -> q(tf),
          s"TBCOL${i + 1}" -> (starts(i) + 1).toString) ++
          extra.map { case (k, v) => s"$k${i + 1}" -> v }
      }, data)
    val swo = FitsTable.readSpec(p, 0)
    val spec = swo.spec.asInstanceOf[FitsFormat.AsciiTableSpec]
    val part = FitsScan.splitsFor(Seq(p), 0, spec.schema, None).head
      .asInstanceOf[FitsInputPartition]
    val required = StructType(spec.schema.fields.reverse)
    var r = 0
    batches(part, required) { cb =>
      (0 until cb.numRows).foreach { i =>
        val chars = new String(data, (r + i) * rowBytes, rowBytes, US_ASCII)
        required.fields.zipWithIndex.foreach { case (f, k) =>
          val want = FitsFormat.decodeAsciiField(chars, spec.cols.find(_.name == f.name).get)
          val row = cb.getRow(i)
          val got = if (row.isNullAt(k)) null else norm(row.get(k, f.dataType), f.dataType)
          assert(got == want, s"row ${r + i}, ${f.name}")
        }
      }
      r += cb.numRows
    }
    assert(r == rows)
  }
}
