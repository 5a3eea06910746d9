package graft.fits

import java.io.{ByteArrayOutputStream, DataOutputStream, FileOutputStream, RandomAccessFile}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** BINTABLE / ASCII TABLE writer — produces standard-conforming FITS files
  * (no FITS library exists in this container, SURVEY §0/§5).
  *
  * Two write paths share one row codec:
  *  - `write` / `writeAscii`: driver-side, for small in-memory fixtures
  *    (unit tests, header fuzzing).
  *  - `writeDataFrame` / `writeAsciiDataFrame`: executor-side parallel
  *    export. FITS fixed-width records make the layout exactly computable:
  *    a stats pass collects per-partition (rowCount, heapBytes, varMax) —
  *    numPartitions tuples, not data — the driver writes the header and
  *    pre-sizes the file, then each partition writes its own byte range
  *    (records and heap) through positioned channel writes. No row data
  *    ever moves through the driver. Requires every task to see `path` on
  *    a shared POSIX filesystem (true in local mode and on the Lustre/GPFS
  *    mounts astronomy clusters export to; for object stores you would
  *    write per-partition parts and compose — out of scope here).
  *
  * Writer/reader parity (FITS 4.0):
  *  - scalar codes L I J K E D, fixed char columns rA;
  *  - fixed numeric array cells rE/rD/rJ/... (`arrayLens`);
  *  - variable-length array cells via P (int32) or Q (int64) descriptors
  *    with heap construction and PCOUNT accounting (`varCols`) — §7.3.5;
  *  - TDIMn multi-dimensional shape cards (`tdims`) — data stays the
  *    standard column-major flat layout; the reader re-nests it.
  */
object FitsWriter {

  private[graft] def card(key: String, value: String, quote: Boolean): Array[Byte] = {
    // §4.2.1: single quotes inside a string value are represented by two
    // successive quotes, and the whole card is 80 bytes — a value whose
    // escaped form cannot fit (68 chars between the quotes) must fail
    // LOUDLY here, because silently truncating drops the closing quote
    // and emits an unterminated string card that external readers reject
    val v =
      if (quote) {
        val escaped = value.replace("'", "''")
        require(escaped.length <= 68,
          s"FITS string value for $key exceeds the 68-char card capacity " +
            s"after quote escaping (${escaped.length}): '$value'")
        s"'${escaped.padTo(8, ' ')}'"
      } else value
    val text = if (quote) f"${key.padTo(8, ' ')}= $v%-69s" else f"${key.padTo(8, ' ')}= $v%20s"
    text.padTo(FitsFormat.CardSize, ' ').take(FitsFormat.CardSize)
      .getBytes(StandardCharsets.US_ASCII)
  }

  /** §4.2.1.2 long-string cards: a value too long for one card goes out
    * as `KEY = 'chunk&'` + CONTINUE cards, each chunk's ESCAPED form
    * sized to leave room for the continuation '&'. Chunking happens on
    * the raw text with a greedy escaped-length budget, so a '' escape
    * pair never splits across cards. A value that fits emits one plain
    * card (the convention is only for overflow).
    */
  private[graft] def longStringCards(key: String, value: String): Array[Byte] = {
    def escLen(s: String): Int = s.replace("'", "''").length
    if (escLen(value) <= 68) return card(key, value, quote = true)
    val chunks = scala.collection.mutable.ArrayBuffer.empty[String]
    var rest = value
    while (rest.nonEmpty) {
      var take = math.min(rest.length, 67)
      while (escLen(rest.take(take)) > 67) take -= 1
      chunks += rest.take(take)
      rest = rest.drop(take)
    }
    val out = new java.io.ByteArrayOutputStream()
    chunks.zipWithIndex.foreach { case (c, idx) =>
      val last = idx == chunks.length - 1
      val quoted = s"'${c.replace("'", "''")}${if (last) "" else "&"}'"
      val text =
        if (idx == 0) f"${key.padTo(8, ' ')}= $quoted%-69s"
        else f"CONTINUE  $quoted%-69s"
      out.write(text.padTo(FitsFormat.CardSize, ' ')
        .take(FitsFormat.CardSize).getBytes(StandardCharsets.US_ASCII))
    }
    out.toByteArray
  }

  /** An ESO-convention HIERARCH card: space-separated keyword tokens,
    * then `= value` in the normal grammar. The assembled card must fit
    * 80 bytes — loud failure beats a truncated keyword.
    */
  private[graft] def hierarchCard(tokens: String, value: String,
      quote: Boolean): Array[Byte] = {
    val v = if (quote) s"'${value.replace("'", "''")}'" else value
    val text = s"HIERARCH $tokens = $v"
    require(text.length <= FitsFormat.CardSize,
      s"HIERARCH card exceeds 80 bytes: '$text'")
    text.padTo(FitsFormat.CardSize, ' ').getBytes(StandardCharsets.US_ASCII)
  }

  private def endCard: Array[Byte] =
    "END".padTo(FitsFormat.CardSize, ' ').getBytes(StandardCharsets.US_ASCII)

  private def pad(out: DataOutputStream, fill: Byte = 0): Unit = {
    val rem = (FitsFormat.BlockSize - out.size() % FitsFormat.BlockSize) % FitsFormat.BlockSize
    out.write(Array.fill(rem)(fill))
  }

  private def blockPad(n: Long): Long =
    (FitsFormat.BlockSize - n % FitsFormat.BlockSize) % FitsFormat.BlockSize

  /** The local file an executor-side positioned writer opens. Each task
    * of those writers opens `path` itself and writes its own byte range,
    * so `path` must be a filesystem path that every executor shares (a
    * local disk in local mode, a shared mount on a cluster). A `file:` URI
    * names such a path; any other `scheme://` path is refused up front
    * rather than written as a local file of that name.
    */
  private[fits] def sharedLocalFile(path: String): java.io.File =
    if (path.startsWith("file:")) new java.io.File(java.net.URI.create(path))
    else if (path.matches("^[a-zA-Z][a-zA-Z0-9+.-]*://.*"))
      throw new IllegalArgumentException(s"FITS positioned export needs a " +
        s"filesystem path every executor shares; '$path' is not one")
    else new java.io.File(path)

  /** Numeric element: (TFORM code, byte width, big-endian putter). */
  private def elem(dt: DataType): (Char, Int, (ByteBuffer, Any) => Unit) = dt match {
    case ShortType => ('I', 2, (b, v) => b.putShort(v.asInstanceOf[Short]))
    case IntegerType => ('J', 4, (b, v) => b.putInt(v.asInstanceOf[Int]))
    case LongType => ('K', 8, (b, v) => b.putLong(v.asInstanceOf[Long]))
    case FloatType => ('E', 4, (b, v) => b.putFloat(v.asInstanceOf[Float]))
    case DoubleType => ('D', 8, (b, v) => b.putDouble(v.asInstanceOf[Double]))
    case other => throw new IllegalArgumentException(
      s"FitsWriter: unsupported array element $other")
  }

  /** The complex (re, im) struct shapes that map to TFORM C / M. */
  private def complexCode(dt: DataType): Option[Char] = dt match {
    case StructType(Array(StructField("re", FloatType, _, _),
        StructField("im", FloatType, _, _))) => Some('C')
    case StructType(Array(StructField("re", DoubleType, _, _),
        StructField("im", DoubleType, _, _))) => Some('M')
    case _ => None
  }

  /** Row → record/heap bytes for one BINTABLE layout. Serializable so the
    * executor-side path can encode rows where they live.
    */
  private[fits] final class BinCodec(
      val schema: StructType,
      strLens: Map[String, Int],
      arrayLens: Map[String, Int],
      varCols: Map[String, Char],
      bitCols: Map[String, Int]) extends Serializable {

    def widthOf(f: StructField): Int = f.dataType match {
      case _ if varCols.contains(f.name) => if (varCols(f.name) == 'P') 8 else 16
      case BinaryType if bitCols.contains(f.name) => (bitCols(f.name) + 7) / 8
      case StringType => strLens.getOrElse(f.name, 16)
      case ArrayType(e, _) => elem(e)._2 * arrayLens.getOrElse(f.name, 1)
      case BooleanType => 1
      case dt => complexCode(dt) match {
        case Some('C') => 8
        case Some('M') => 16
        case _ => elem(dt)._2
      }
    }

    val rowBytes: Int = schema.fields.map(widthOf).sum

    /** Var-length columns in schema order: (field index, elem width). */
    private val varFields: Array[(Int, Int)] =
      schema.fields.zipWithIndex.collect {
        case (f, i) if varCols.contains(f.name) =>
          (i, elem(f.dataType.asInstanceOf[ArrayType].elementType)._2)
      }

    /** Names of var-length columns, in schema order (varMax keying). */
    val varNames: Array[String] =
      schema.fields.map(_.name).filter(varCols.contains)

    /** Per-element byte width of each var column, aligned with `varNames`
      * (turns `varLensOf` lengths into heap bytes without re-reading rows).
      */
    val varElemBytes: Array[Int] = varFields.map(_._2)

    /** Element count of each var cell, aligned with `varNames`. Carries
      * the same loud NULL rejection as `encode` — a stats pass must fail
      * with the actionable message, not NPE inside an executor task.
      */
    def varLensOf(r: Row): Array[Long] =
      varFields.map { case (i, _) =>
        require(!r.isNullAt(i),
          s"NULL cell in ${schema.fields(i).name}: this writer emits no " +
            "TNULL sentinels — filter or fill nulls before writing")
        r.getSeq[Any](i).length.toLong
      }

    /** Encodes one row: record bytes into `buf` (caller clears), heap
      * cells to `heapSink`; `heapRel` = this row's first heap byte
      * relative to THEAP; returns the updated heapRel.
      */
    def encode(r: Row, buf: ByteBuffer, heapRel: Long,
        heapSink: Array[Byte] => Unit): Long = {
      var rel = heapRel
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        // BINTABLE NULLs need TNULL sentinels, which this writer does
        // not emit — fail loudly up front for EVERY branch rather than
        // NPE mid-write and leave a truncated file on disk (var-length
        // cells additionally have no NULL distinct from count-0).
        require(!r.isNullAt(i),
          s"NULL cell in ${f.name}: this writer emits no TNULL sentinels" +
            " — filter or fill nulls before writing")
        f.dataType match {
          case ArrayType(et, _) if varCols.contains(f.name) =>
            val (_, w, put) = elem(et)
            val xs = r.getSeq[Any](i)
            val eb = ByteBuffer.allocate(xs.length * w)
            xs.foreach(put(eb, _))
            heapSink(eb.array())
            if (varCols(f.name) == 'P') {
              require(rel <= Int.MaxValue && xs.length <= Int.MaxValue,
                s"heap too large for P descriptors in ${f.name}; use Q")
              buf.putInt(xs.length); buf.putInt(rel.toInt)
            } else { buf.putLong(xs.length.toLong); buf.putLong(rel) }
            rel += xs.length.toLong * w
          case BooleanType => buf.put((if (r.getBoolean(i)) 'T' else 'F').toByte)
          case BinaryType if bitCols.contains(f.name) =>
            // X bit array: MSB-first packed bytes, zero-padded/truncated
            // to the declared bit width. FITS 4.0 §7.3.3 requires unused
            // trailing bits to be ZERO — mask the final byte, or stale
            // tail bits become phantom flags to a conforming reader
            val bits = bitCols(f.name)
            val w = (bits + 7) / 8
            val b = r.getAs[Array[Byte]](i).take(w).padTo(w, 0.toByte)
            if (bits % 8 != 0)
              b(w - 1) = (b(w - 1) & (0xFF << (8 - bits % 8))).toByte
            buf.put(b)
          case StringType =>
            val w = strLens.getOrElse(f.name, 16)
            val s = r.getString(i)
            // same policy as the tiled 'A' path: unrepresentable text
            // fails loudly — getBytes(US_ASCII) would silently write '?'
            // and take(w) would silently drop the tail, and neither
            // corruption is detectable from the bytes afterwards
            require(s.length <= w,
              s"string '${s.take(40)}' exceeds declared ${w}A in ${f.name}")
            require(s.forall(_ < 128),
              s"FITS export: non-ASCII character in ${f.name} value " +
                s"'${s.take(40)}' cannot round-trip through an A field")
            buf.put(s.getBytes(StandardCharsets.US_ASCII).padTo(w, ' '.toByte))
          case dt if complexCode(dt).isDefined =>
            val st = r.getStruct(i)
            require(!st.isNullAt(0) && !st.isNullAt(1),
              s"NULL component in complex cell ${f.name}")
            if (complexCode(dt).contains('C')) {
              buf.putFloat(st.getFloat(0)); buf.putFloat(st.getFloat(1))
            } else { buf.putDouble(st.getDouble(0)); buf.putDouble(st.getDouble(1)) }
          case ArrayType(et, _) =>
            // Enforce the declared repeat: truncate long cells, zero-pad
            // short ones (otherwise offsets shift / stale bytes leak).
            val (_, w, put) = elem(et)
            val n = arrayLens.getOrElse(f.name, 1)
            val xs = r.getSeq[Any](i)
            var k = 0
            while (k < n) {
              if (k < xs.length) put(buf, xs(k))
              else buf.put(new Array[Byte](w))
              k += 1
            }
          case dt => elem(dt)._3(buf, r.get(i))
        }
      }
      rel
    }
  }

  private def validateLayout(schema: StructType,
      arrayLens: Map[String, Int], varCols: Map[String, Char],
      tdims: Map[String, Seq[Int]], bitCols: Map[String, Int]): Unit = {
    bitCols.foreach { case (n, bits) =>
      require(bits >= 1, s"bitCols('$n') needs a positive bit count, got $bits")
      // a bitCols key on a non-binary column would fall through to the
      // scalar branch with a mismatched declared width — record corruption
      require(schema.fields.exists(f => f.name == n && f.dataType == BinaryType),
        s"bitCols('$n') must name a BinaryType column of the schema")
    }
    schema.fields.foreach { f =>
      if (f.dataType == BinaryType && !bitCols.contains(f.name))
        throw new IllegalArgumentException(
          s"binary column '${f.name}' needs a bitCols entry declaring its " +
            "X bit width (FITS has no untyped byte-blob column)")
      if (f.dataType.isInstanceOf[StructType] && complexCode(f.dataType).isEmpty)
        throw new IllegalArgumentException(
          s"struct column '${f.name}' is not a complex (re, im) float/double " +
            "pair — flatten other structs before writing")
    }
    varCols.foreach { case (n, d) =>
      require(d == 'P' || d == 'Q', s"varCols descriptor must be P or Q, got $d")
      // a varCols key that is not an array column would reserve descriptor
      // bytes in widthOf but write through the scalar branch — record
      // corruption. Validate up front.
      require(schema.fields.exists(f => f.name == n &&
          f.dataType.isInstanceOf[ArrayType]),
        s"varCols('$n') must name an ArrayType column of the schema")
    }
    tdims.foreach { case (n, dims) =>
      // must name a FIXED array column whose declared repeat equals the
      // shape product — a vacuous pass here would write TFORM '1E' with
      // TDIM '(3,2)' and every read would then fail in tableSpec
      require(schema.fields.exists(f => f.name == n &&
          f.dataType.isInstanceOf[ArrayType]) && !varCols.contains(n),
        s"tdims('$n') must name a fixed ArrayType column of the schema")
      require(arrayLens.getOrElse(n, 1) == dims.product,
        s"TDIM ${dims.mkString("(", ",", ")")} product != arrayLens($n) = ${arrayLens.getOrElse(n, 1)}")
    }
  }

  /** Primary HDU + BINTABLE extension header, block-padded. Every field is
    * known before any record is written (varMax from the stats pass), so
    * both write paths emit byte-identical headers for the same data.
    */
  private def binHeader(codec: BinCodec, strLens: Map[String, Int],
      arrayLens: Map[String, Int], varCols: Map[String, Char],
      tdims: Map[String, Seq[Int]], bitCols: Map[String, Int],
      nRows: Long, pcount: Long,
      varMax: Map[String, Long],
      extraCardBytes: Array[Byte] = Array.empty): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.write(card("SIMPLE", "T", quote = false))
    out.write(card("BITPIX", "8", quote = false))
    out.write(card("NAXIS", "0", quote = false))
    out.write(endCard); pad(out, ' '.toByte)

    out.write(card("XTENSION", "BINTABLE", quote = true))
    out.write(card("BITPIX", "8", quote = false))
    out.write(card("NAXIS", "2", quote = false))
    out.write(card("NAXIS1", codec.rowBytes.toString, quote = false))
    out.write(card("NAXIS2", nRows.toString, quote = false))
    out.write(card("PCOUNT", pcount.toString, quote = false)) // heap bytes
    out.write(card("GCOUNT", "1", quote = false))
    out.write(card("TFIELDS", codec.schema.fields.length.toString, quote = false))
    codec.schema.fields.zipWithIndex.foreach { case (f, i) =>
      out.write(card(s"TTYPE${i + 1}", f.name, quote = true))
      val tf = f.dataType match {
        case ArrayType(et, _) if varCols.contains(f.name) =>
          s"1${varCols(f.name)}${elem(et)._1}(${varMax.getOrElse(f.name, 0L)})"
        case BinaryType if bitCols.contains(f.name) => s"${bitCols(f.name)}X"
        case StringType => s"${strLens.getOrElse(f.name, 16)}A"
        case ArrayType(et, _) => s"${arrayLens.getOrElse(f.name, 1)}${elem(et)._1}"
        case BooleanType => "L"
        case dt => complexCode(dt).map(_.toString)
          .getOrElse(elem(dt)._1.toString)
      }
      out.write(card(s"TFORM${i + 1}", tf, quote = true))
      tdims.get(f.name).foreach(dims =>
        out.write(card(s"TDIM${i + 1}", dims.mkString("(", ",", ")"), quote = true)))
    }
    // caller-supplied pre-rendered cards (provenance, HIERARCH, long
    // strings) — written verbatim before END
    out.write(extraCardBytes)
    out.write(endCard); pad(out, ' '.toByte)
    bos.toByteArray
  }

  /** Writes rows as a single-BINTABLE FITS file (driver-side; for small
    * fixtures — bulk export is `writeDataFrame`).
    *  - `strLens`: char width per fixed string column (default 16).
    *  - `arrayLens`: fixed repeat count per array column.
    *  - `varCols`: array columns stored variable-length instead — name →
    *    'P' (32-bit descriptors) or 'Q' (64-bit).
    *  - `tdims`: multi-dim shape card per fixed array column, e.g.
    *    Seq(3, 2) ⇒ TDIMn = '(3,2)' (first axis varies fastest). The
    *    product must equal the column's `arrayLens` entry.
    */
  def write(path: String, schema: StructType, rows: Seq[Row],
      strLens: Map[String, Int] = Map.empty,
      arrayLens: Map[String, Int] = Map.empty,
      varCols: Map[String, Char] = Map.empty,
      tdims: Map[String, Seq[Int]] = Map.empty,
      bitCols: Map[String, Int] = Map.empty): Unit = {
    validateLayout(schema, arrayLens, varCols, tdims, bitCols)
    val codec = new BinCodec(schema, strLens, arrayLens, varCols, bitCols)
    // Records and heap buffer in memory; the header needs NAXIS2, PCOUNT
    // and the per-column var max, all known only after encoding.
    val records = new ByteArrayOutputStream()
    val heap = new ByteArrayOutputStream()
    val buf = ByteBuffer.allocate(codec.rowBytes) // big-endian by default
    val varMax = scala.collection.mutable.Map.empty[String, Long]
    var heapRel = 0L
    rows.foreach { r =>
      buf.clear()
      codec.varNames.zip(codec.varLensOf(r)).foreach { case (n, len) =>
        varMax(n) = math.max(varMax.getOrElse(n, 0L), len)
      }
      heapRel = codec.encode(r, buf, heapRel, heap.write)
      records.write(buf.array(), 0, codec.rowBytes)
    }
    val out = new DataOutputStream(new FileOutputStream(path))
    try {
      out.write(binHeader(codec, strLens, arrayLens, varCols, tdims, bitCols,
        rows.size.toLong, heap.size().toLong, varMax.toMap))
      records.writeTo(out)
      heap.writeTo(out)
      pad(out)
    } finally out.close()
  }

  /** Buffered positioned writes into one exclusive byte range of `ch`.
    * Each partition task owns two: its record range and its heap range.
    */
  private final class RegionWriter(ch: FileChannel, start: Long) {
    private var pos = start
    private val buf = ByteBuffer.allocate(1 << 20)
    def write(bytes: Array[Byte], off: Int, len: Int): Unit = {
      var o = off; var rem = len
      while (rem > 0) {
        val n = math.min(rem, buf.remaining())
        buf.put(bytes, o, n); o += n; rem -= n
        if (!buf.hasRemaining) flush()
      }
    }
    def write(bytes: Array[Byte]): Unit = write(bytes, 0, bytes.length)
    def flush(): Unit = {
      buf.flip()
      while (buf.hasRemaining) pos += ch.write(buf, pos)
      buf.clear()
    }
  }

  /** Executor-side parallel BINTABLE export — same file bytes as `write`
    * on the same row sequence, without moving any row through the driver.
    *
    * Stats pass: per-partition (rows, heapBytes, per-var-col max) — a
    * numPartitions-row collect, the scale-safe offset-table pattern.
    * Write pass: the driver writes the header and pre-sizes the file
    * (zero fill = the standard's data-unit padding), then each partition
    * writes its record range at recordsStart + Σ earlier rows × NAXIS1
    * and its heap range at THEAP + Σ earlier heap bytes, with P/Q
    * descriptors offset by its heap base. File row order = partition
    * order, so a range-sorted (`orderBy`) input exports globally sorted.
    * `path` must be a filesystem path that every executor shares
    * (`sharedLocalFile`): each task opens it to write its own byte range.
    */
  def writeDataFrame(path: String, df: DataFrame,
      strLens: Map[String, Int] = Map.empty,
      arrayLens: Map[String, Int] = Map.empty,
      varCols: Map[String, Char] = Map.empty,
      tdims: Map[String, Seq[Int]] = Map.empty,
      bitCols: Map[String, Int] = Map.empty,
      extraCardBytes: Array[Byte] = Array.empty): Unit = {
    val file = sharedLocalFile(path)
    val schema = df.schema
    validateLayout(schema, arrayLens, varCols, tdims, bitCols)
    val codec = new BinCodec(schema, strLens, arrayLens, varCols, bitCols)
    // The two passes must see identical partition contents; persist so the
    // (possibly nondeterministic-at-recompute) upstream plan runs once.
    val rdd = df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val stats = rdd.mapPartitionsWithIndex { (pid, it) =>
        var n = 0L; var hb = 0L
        val vm = Array.fill(codec.varNames.length)(0L)
        it.foreach { r =>
          n += 1
          val ls = codec.varLensOf(r)
          var i = 0
          while (i < ls.length) {
            vm(i) = math.max(vm(i), ls(i))
            hb += ls(i) * codec.varElemBytes(i)
            i += 1
          }
        }
        Iterator.single((pid, n, hb, vm))
      }.collect().sortBy(_._1)
      val nRows = stats.map(_._2).sum
      val pcount = stats.map(_._3).sum
      val varMax = codec.varNames.zipWithIndex.map { case (n, i) =>
        n -> stats.foldLeft(0L)((m, s) => math.max(m, s._4(i)))
      }.toMap
      val header = binHeader(codec, strLens, arrayLens, varCols, tdims,
        bitCols, nRows, pcount, varMax, extraCardBytes)
      val recordsStart = header.length.toLong
      val theap = codec.rowBytes.toLong * nRows // THEAP default: heap follows records
      val dataEnd = recordsStart + theap + pcount
      val raf = new RandomAccessFile(file, "rw")
      try {
        raf.setLength(0)
        raf.setLength(dataEnd + blockPad(dataEnd - recordsStart)) // zero fill
        raf.seek(0); raf.write(header)
      } finally raf.close()
      val recOff = stats.scanLeft(recordsStart)((a, s) => a + s._2 * codec.rowBytes)
      val heapRelBase = stats.scanLeft(0L)((a, s) => a + s._3)
      rdd.mapPartitionsWithIndex { (pid, it) =>
        if (it.hasNext) {
          val f = new RandomAccessFile(file, "rw")
          try {
            val ch = f.getChannel
            val rec = new RegionWriter(ch, recOff(pid))
            val hp = new RegionWriter(ch, recordsStart + theap + heapRelBase(pid))
            val buf = ByteBuffer.allocate(codec.rowBytes)
            var heapRel = heapRelBase(pid)
            it.foreach { r =>
              buf.clear()
              heapRel = codec.encode(r, buf, heapRel, hp.write)
              rec.write(buf.array(), 0, codec.rowBytes)
            }
            rec.flush(); hp.flush()
          } finally f.close()
        }
        Iterator.single(pid)
      }.count()
    } finally rdd.unpersist(blocking = false)
  }

  // ------------------------------------------------------------ tiled write

  /** Logical column layout for a tiled (ZTABLE=T) export: FITS code,
    * element bytes, repeat (char width for A), and compression per the
    * fpack-style defaults — GRAFT_RICE_1 for integers (the PRIVATE
    * label for this engine's self-designed Rice layout, deliberately
    * not the standard 'RICE_1' since cfitsio bit-interop is unverified
    * — see TileCodec), GZIP_2 (shuffled gzip) for floats, GZIP_1 for
    * character fields.
    */
  private final case class TiledCol(name: String, code: Char, elemBytes: Int,
      repeat: Int, zctyp: String) {
    def zform: String = if (code == 'A') s"${repeat}A" else code.toString
  }

  private def tiledCols(schema: StructType,
      strLens: Map[String, Int]): Seq[TiledCol] =
    schema.fields.toSeq.map { f =>
      f.dataType match {
        // ByteType deliberately widens to I: a 'B' logical column is
        // unsigned in FITS and would read back as ShortType anyway
        case ByteType | ShortType => TiledCol(f.name, 'I', 2, 1, "GRAFT_RICE_1")
        case IntegerType => TiledCol(f.name, 'J', 4, 1, "GRAFT_RICE_1")
        case LongType => TiledCol(f.name, 'K', 8, 1, "GRAFT_RICE_1")
        case FloatType => TiledCol(f.name, 'E', 4, 1, "GZIP_2")
        case DoubleType => TiledCol(f.name, 'D', 8, 1, "GZIP_2")
        case StringType =>
          TiledCol(f.name, 'A', 1, strLens.getOrElse(f.name, 16), "GZIP_1")
        case dt => throw new IllegalArgumentException(
          s"tiled FITS export: unsupported type $dt for column ${f.name} " +
            "(scalar numeric and string only)")
      }
    }

  /** One tile's values for one column as the raw big-endian bytes an
    * uncompressed column-major cell would hold (NULLs are not
    * representable in this export — fail loudly, as the plain writer's
    * numeric path does).
    */
  private def tileRaw(rows: scala.collection.Seq[Row], fieldIdx: Int,
      c: TiledCol): Array[Byte] = {
    val buf = ByteBuffer.allocate(rows.length * c.elemBytes * c.repeat)
    rows.foreach { r =>
      require(!r.isNullAt(fieldIdx),
        s"tiled FITS export: NULL in column ${c.name} is not representable")
      c.code match {
        case 'I' => buf.putShort(r.get(fieldIdx) match {
          case b: Byte => b.toShort
          case s: Short => s
        })
        case 'J' => buf.putInt(r.getInt(fieldIdx))
        case 'K' => buf.putLong(r.getLong(fieldIdx))
        case 'E' => buf.putFloat(r.getFloat(fieldIdx))
        case 'D' => buf.putDouble(r.getDouble(fieldIdx))
        case 'A' =>
          val s = r.getString(fieldIdx)
          require(s.length <= c.repeat,
            s"string '${s.take(40)}' exceeds ${c.repeat}A in ${c.name}")
          // getBytes(US_ASCII) silently substitutes '?' for anything
          // non-ASCII — fail loudly instead, like the NULL path above
          require(s.forall(_ < 128),
            s"tiled FITS export: non-ASCII character in ${c.name} value " +
              s"'${s.take(40)}' cannot round-trip through an A field")
          buf.put(s.padTo(c.repeat, ' ')
            .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      }
    }
    buf.array()
  }

  /** Groups an idx-sorted iterator into whole tiles and compresses each
    * column; deterministic, so the sizes pass and the write pass agree.
    */
  private def compressTiles(it: Iterator[(Long, Row)], tileLen: Int,
      cols: Seq[TiledCol]): Iterator[(Long, Array[Array[Byte]])] =
    new Iterator[(Long, Array[Array[Byte]])] {
      private val bi = it.buffered // `buffered` would clash with Iterator's own
      def hasNext: Boolean = bi.hasNext
      def next(): (Long, Array[Array[Byte]]) = {
        val tileId = bi.head._1 / tileLen
        val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
        while (bi.hasNext && bi.head._1 / tileLen == tileId)
          rows += bi.next()._2
        val blobs = cols.zipWithIndex.map { case (c, i) =>
          TileCodec.encodeCell(c.zctyp, tileRaw(rows, i, c), c.elemBytes)
        }.toArray
        (tileId, blobs)
      }
    }

  private def tiledHeader(cols: Seq[TiledCol], nTiles: Long, nRows: Long,
      tileLen: Int, pcount: Long, varMax: Array[Int]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.write(card("SIMPLE", "T", quote = false))
    out.write(card("BITPIX", "8", quote = false))
    out.write(card("NAXIS", "0", quote = false))
    out.write(endCard); pad(out, ' '.toByte)
    out.write(card("XTENSION", "BINTABLE", quote = true))
    out.write(card("BITPIX", "8", quote = false))
    out.write(card("NAXIS", "2", quote = false))
    out.write(card("NAXIS1", (cols.length * 8).toString, quote = false))
    out.write(card("NAXIS2", nTiles.toString, quote = false))
    out.write(card("PCOUNT", pcount.toString, quote = false))
    out.write(card("GCOUNT", "1", quote = false))
    out.write(card("TFIELDS", cols.length.toString, quote = false))
    out.write(card("ZTABLE", "T", quote = false))
    out.write(card("ZTILELEN", tileLen.toString, quote = false))
    out.write(card("ZNAXIS1",
      cols.map(c => c.elemBytes * c.repeat).sum.toString, quote = false))
    out.write(card("ZNAXIS2", nRows.toString, quote = false))
    cols.zipWithIndex.foreach { case (c, i0) =>
      val i = i0 + 1
      out.write(card(s"TTYPE$i", c.name, quote = true))
      out.write(card(s"TFORM$i", s"1PB(${varMax(i0)})", quote = true))
      out.write(card(s"ZFORM$i", c.zform, quote = true))
      out.write(card(s"ZCTYP$i", c.zctyp, quote = true))
    }
    out.write(endCard); pad(out, ' '.toByte)
    bos.toByteArray
  }

  /** Executor-side tile-compressed (ZTABLE=T) BINTABLE export — the fpack
    * table shape: stored rows are tiles of `tileLen` logical rows, one
    * compressed column-major cell per logical column (GRAFT_RICE_1 integers,
    * GZIP_2 floats, GZIP_1 strings). Layout:
    *
    *  1. stats pass — per-partition row counts (the offset-table pattern);
    *  2. ONE alignment shuffle — rows keyed by global index and
    *     range-partitioned so every task owns whole consecutive tiles
    *     (tiles may not straddle tasks: a tile is one compression unit);
    *  3. sizes pass — each task compresses its tiles and reports only the
    *     per-tile per-column blob SIZES (compression is deterministic, so
    *     pass 3 and pass 4 agree byte-for-byte);
    *  4. the driver lays out the heap from the sizes, writes the header
    *     and ALL descriptor records (metadata, nTiles × 8·C bytes — the
    *     sanctioned bounded collect, like writeDataFrame's offsets), and
    *     pre-sizes the file;
    *  5. write pass — each task re-compresses its tiles and writes the
    *     blobs at their assigned heap positions via positioned channel
    *     writes (no row or cell ever moves through the driver).
    *
    * The export is what the tiled READER path scans in parallel: each
    * tile decompresses independently, so splits are tile ranges.
    * `path` must be a filesystem path that every executor shares
    * (`sharedLocalFile`): each task opens it to write its own byte range.
    */
  def writeTiledDataFrame(path: String, df: DataFrame, tileLen: Int,
      strLens: Map[String, Int] = Map.empty): Unit = {
    val file = sharedLocalFile(path)
    require(tileLen > 0, s"tileLen must be positive, got $tileLen")
    val cols = tiledCols(df.schema, strLens)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val rdd0 = df.rdd.persist(lvl)
    try {
      val counts = rdd0.mapPartitionsWithIndex((pid, it) =>
        Iterator.single((pid, it.size.toLong))).collect().sortBy(_._1).map(_._2)
      val nRows = counts.sum
      val nTiles = (nRows + tileLen - 1) / tileLen
      val offsets = counts.scanLeft(0L)(_ + _)
      val tasks = math.max(1, rdd0.getNumPartitions)
      val tilesPerTask = math.max(1L, (nTiles + tasks - 1) / tasks)
      val keyed = rdd0.mapPartitionsWithIndex { (pid, it) =>
        var i = offsets(pid)
        it.map { r => val k = i; i += 1; (k, r) }
      }
      val partitioner = new org.apache.spark.Partitioner {
        def numPartitions: Int = tasks
        def getPartition(key: Any): Int =
          ((key.asInstanceOf[Long] / tileLen) / tilesPerTask).toInt
      }
      import org.apache.spark.rdd.RDD.rddToPairRDDFunctions
      val aligned = keyed.repartitionAndSortWithinPartitions(partitioner)
        .persist(lvl)
      try {
        val sizes = aligned.mapPartitions(it =>
          compressTiles(it, tileLen, cols).map { case (t, blobs) =>
            (t, blobs.map(_.length))
          }).collect().sortBy(_._1)
        require(sizes.length == nTiles,
          s"tile accounting: ${sizes.length} compressed tiles for $nTiles planned")
        // heap layout: tile-major, column-minor — matches the write order
        val heapOff = Array.ofDim[Long](sizes.length, cols.length)
        var off = 0L
        sizes.foreach { case (t, ss) =>
          var c = 0
          while (c < cols.length) {
            heapOff(t.toInt)(c) = off; off += ss(c); c += 1
          }
        }
        val pcount = off
        require(pcount <= Int.MaxValue.toLong,
          s"tiled heap of $pcount bytes exceeds 32-bit P descriptors; " +
            "raise tileLen or split the export across files")
        val varMax = cols.indices.map(c =>
          sizes.foldLeft(0)((m, s) => math.max(m, s._2(c)))).toArray
        val header = tiledHeader(cols, nTiles, nRows, tileLen, pcount, varMax)
        val recordsStart = header.length.toLong
        val storedRowBytes = cols.length * 8
        val theap = storedRowBytes.toLong * nTiles
        val dataEnd = recordsStart + theap + pcount
        val raf = new RandomAccessFile(file, "rw")
        try {
          raf.setLength(0)
          raf.setLength(dataEnd + blockPad(dataEnd - recordsStart))
          raf.seek(0); raf.write(header)
          // all descriptor records (metadata): (blobBytes, heapOffset)
          val rec = ByteBuffer.allocate(storedRowBytes)
          sizes.foreach { case (t, ss) =>
            rec.clear()
            var c = 0
            while (c < cols.length) {
              rec.putInt(ss(c)); rec.putInt(heapOff(t.toInt)(c).toInt); c += 1
            }
            raf.write(rec.array())
          }
        } finally raf.close()
        val heapStart = recordsStart + theap
        // sizes pass result, shipped to the write pass: if a lost cached
        // partition recomputes upstream with a different row order, the
        // re-compressed blob sizes diverge from the already-written 1PB
        // descriptors — require equality so that fails loudly instead of
        // writing overlapping/truncated heap data
        val blobSizes: Array[Array[Int]] = sizes.map(_._2)
        aligned.mapPartitions { it =>
          val tiles = compressTiles(it, tileLen, cols)
          if (tiles.hasNext) {
            val f = new RandomAccessFile(file, "rw")
            try {
              val ch = f.getChannel
              tiles.foreach { case (t, blobs) =>
                var c = 0
                while (c < cols.length) {
                  require(blobs(c).length == blobSizes(t.toInt)(c),
                    s"tiled FITS export: tile $t column $c re-compressed to " +
                      s"${blobs(c).length} bytes but the sizes pass measured " +
                      s"${blobSizes(t.toInt)(c)} — cached partition lost and " +
                      "recomputed with a different row order; aborting before " +
                      "corrupting the heap")
                  ch.write(ByteBuffer.wrap(blobs(c)),
                    heapStart + heapOff(t.toInt)(c))
                  c += 1
                }
              }
            } finally f.close()
          }
          Iterator.single(0)
        }.count()
      } finally aligned.unpersist(blocking = false)
    } finally rdd0.unpersist(blocking = false)
  }

  /** Field widths/formats for an ASCII TABLE layout (shared by both
    * ASCII write paths).
    */
  private[fits] final class AsciiCodec(
      val schema: StructType,
      strLens: Map[String, Int],
      dblFmt: (Int, Int)) extends Serializable {
    private val (dw, dd) = dblFmt
    def widthOf(f: StructField): Int = f.dataType match {
      case StringType => strLens.getOrElse(f.name, 16)
      case ShortType | IntegerType | LongType => 20
      case DoubleType | FloatType => dw
      case other => throw new IllegalArgumentException(
        s"writeAscii: unsupported $other (ASCII tables hold scalars only)")
    }
    def tformOf(f: StructField): String = f.dataType match {
      case StringType => s"A${widthOf(f)}"
      case ShortType | IntegerType | LongType => s"I${widthOf(f)}"
      case _ => s"F$dw.$dd"
    }
    val widths: Array[Int] = schema.fields.map(widthOf)
    val starts: Array[Int] = widths.scanLeft(0)(_ + _).init // 0-based
    val rowBytes: Int = widths.sum

    /** One row as its fixed-width ASCII record. */
    def encode(r: Row): Array[Byte] = {
      val sb = new StringBuilder
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        val w = widths(i)
        // SQL NULL → all-blank field, which the reader (and the FITS
        // convention) decodes back to NULL — the pair round-trips nulls.
        val cell = if (r.isNullAt(i)) " " * w else f.dataType match {
          case StringType =>
            val s = r.getString(i)
            require(s.length <= w, s"'$s' exceeds A$w in ${f.name}")
            // blank-padded fields cannot represent "" / all-blank /
            // trailing-space values distinctly (reader: blank→NULL,
            // trailing blanks insignificant) — reject what can't
            // round-trip rather than silently corrupt
            require(s.trim.nonEmpty && (s eq FitsFormat.trimTrailing(s)),
              s"'$s' in ${f.name} would not round-trip through a blank-padded A field " +
                "(empty/all-blank/trailing-whitespace); use NULL or trim first")
            s.padTo(w, ' ')
          case ShortType | IntegerType | LongType =>
            val s = String.valueOf(r.getAs[Number](i).longValue)
            require(s.length <= w, s"$s exceeds I$w in ${f.name}")
            (" " * (w - s.length)) + s
          case _ =>
            val d = r.getAs[Number](i).doubleValue
            // an Fw.d field has no representation for NaN/±Inf —
            // String.format would happily emit literal 'NaN'/'Infinity'
            // text (it fits the width check), a non-conforming numeric
            // field external readers reject; fail loudly like every
            // other unrepresentable-value path in this writer
            require(!d.isNaN && !d.isInfinite,
              s"$d in ${f.name} has no Fw.d representation; map to NULL first (b4)")
            // Locale.ROOT: a comma-decimal default locale (de_DE…) would
            // write '2,5' — invalid FITS and unparseable on read-back
            val s = String.format(java.util.Locale.ROOT,
              s"%$dw.${dd}f", d).trim
            require(s.length <= w, s"$s exceeds F$dw.$dd in ${f.name}")
            (" " * (w - s.length)) + s
        }
        sb.append(cell)
      }
      sb.toString.getBytes(StandardCharsets.US_ASCII)
    }
  }

  /** Primary HDU + ASCII TABLE extension header, block-padded. */
  private def asciiHeader(codec: AsciiCodec, nRows: Long): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.write(card("SIMPLE", "T", quote = false))
    out.write(card("BITPIX", "8", quote = false))
    out.write(card("NAXIS", "0", quote = false))
    out.write(endCard); pad(out, ' '.toByte)

    out.write(card("XTENSION", "TABLE", quote = true))
    out.write(card("BITPIX", "8", quote = false))
    out.write(card("NAXIS", "2", quote = false))
    out.write(card("NAXIS1", codec.rowBytes.toString, quote = false))
    out.write(card("NAXIS2", nRows.toString, quote = false))
    out.write(card("PCOUNT", "0", quote = false))
    out.write(card("GCOUNT", "1", quote = false))
    out.write(card("TFIELDS", codec.schema.fields.length.toString, quote = false))
    codec.schema.fields.zipWithIndex.foreach { case (f, i) =>
      out.write(card(s"TTYPE${i + 1}", f.name, quote = true))
      out.write(card(s"TFORM${i + 1}", codec.tformOf(f), quote = true))
      out.write(card(s"TBCOL${i + 1}", (codec.starts(i) + 1).toString, quote = false))
    }
    out.write(endCard); pad(out, ' '.toByte)
    bos.toByteArray
  }

  /** ASCII TABLE (XTENSION='TABLE') writer — fixed character fields per
    * FITS 4.0 §7.2. Strings → Aw (left-justified), integers → Iw
    * (right-justified), doubles → Fw.d fixed-point. `dblFmt` = (w, d);
    * values must fit w chars or the write fails loudly (a silently
    * truncated number would corrupt the table). Driver-side; bulk export
    * is `writeAsciiDataFrame`.
    */
  def writeAscii(path: String, schema: StructType, rows: Seq[Row],
      strLens: Map[String, Int] = Map.empty,
      dblFmt: (Int, Int) = (14, 4)): Unit = {
    val codec = new AsciiCodec(schema, strLens, dblFmt)
    val out = new DataOutputStream(new FileOutputStream(path))
    try {
      out.write(asciiHeader(codec, rows.size.toLong))
      rows.foreach(r => out.write(codec.encode(r)))
      pad(out, ' '.toByte) // ASCII table data unit pads with blanks (§7.2)
    } finally out.close()
  }

  /** Executor-side parallel ASCII TABLE export — `writeAscii` semantics
    * without collecting rows. Simpler than the BINTABLE path (no heap):
    * partition p's records start at recordsStart + NAXIS1 × Σ earlier
    * partition counts. Same shared-filesystem requirement as
    * `writeDataFrame`.
    * `path` must be a filesystem path that every executor shares
    * (`sharedLocalFile`): each task opens it to write its own byte range.
    */
  def writeAsciiDataFrame(path: String, df: DataFrame,
      strLens: Map[String, Int] = Map.empty,
      dblFmt: (Int, Int) = (14, 4)): Unit = {
    val file = sharedLocalFile(path)
    val codec = new AsciiCodec(df.schema, strLens, dblFmt)
    val rdd = df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val counts = rdd.mapPartitionsWithIndex { (pid, it) =>
        Iterator.single((pid, it.size.toLong))
      }.collect().sortBy(_._1)
      val nRows = counts.map(_._2).sum
      val header = asciiHeader(codec, nRows)
      val recordsStart = header.length.toLong
      val dataBytes = codec.rowBytes.toLong * nRows
      val raf = new RandomAccessFile(file, "rw")
      try {
        raf.setLength(0)
        raf.setLength(recordsStart + dataBytes + blockPad(dataBytes))
        raf.seek(0); raf.write(header)
        // the pre-size zero-fills; ASCII data units pad with blanks (§7.2)
        raf.seek(recordsStart + dataBytes)
        raf.write(Array.fill(blockPad(dataBytes).toInt)(' '.toByte))
      } finally raf.close()
      val recOff = counts.scanLeft(recordsStart)((a, c) => a + c._2 * codec.rowBytes)
      rdd.mapPartitionsWithIndex { (pid, it) =>
        if (it.hasNext) {
          val f = new RandomAccessFile(file, "rw")
          try {
            val rec = new RegionWriter(f.getChannel, recOff(pid))
            it.foreach(r => rec.write(codec.encode(r)))
            rec.flush()
          } finally f.close()
        }
        Iterator.single(pid)
      }.count()
    } finally rdd.unpersist(blocking = false)
  }

  // ------------------------------------------------------------ image HDUs

  /** The planted survey frame (the a19 oracle's closed form): raw pixel
    * (x, y) = (3y + 5x + 7) mod 251. Raw value 250 is the missing-pixel
    * sentinel — stored as BLANK in the int16 image and as NaN in the
    * float32 image, exercising both FITS missing conventions on the same
    * mask. Float pixels store raw/4 (exact in binary32 for raw < 2²³).
    */
  def imageRaw(x: Long, y: Long): Long = (3 * y + 5 * x + 7) % 251

  /** The planted linear WCS carried by the int16 image extensions
    * (writeImageFits and writeTiledImageFits): RA on axis 1 with the
    * conventional NEGATIVE increment (RA grows leftward on the sky),
    * Dec on axis 2. Every value is a dyadic rational (CDELT = ±2⁻⁸,
    * integer CRPIX/CRVAL), so a sky box on pixel centers inverts to an
    * EXACT pixel box in any IEEE engine — the a34 oracle's determinism
    * argument (FitsFormat.Wcs.axisRange).
    */
  private[fits] val wcsCards: Seq[(String, String)] = Seq(
    "CRPIX1" -> "32.0", "CRVAL1" -> "180.0", "CDELT1" -> "-0.00390625",
    "CRPIX2" -> "1.0", "CRVAL2" -> "-10.0", "CDELT2" -> "0.00390625")

  /** The cube's planted WCS: the image's sky axes plus a SPECTRAL third
    * axis (velocity per plane, km/s) — CDELT3 = 0.5 and integer
    * CRPIX3/CRVAL3 keep every a35 quantity a dyadic rational, the same
    * exactness argument as wcsCards.
    */
  private[fits] val wcsCubeCards: Seq[(String, String)] = wcsCards ++ Seq(
    "CRPIX3" -> "1.0", "CRVAL3" -> "1000.0", "CDELT3" -> "0.5")

  /** The ROTATED planted WCS (a38): a CD matrix in place of CDELT —
    * s·[[−1, 1],[1, 1]] with s = 2⁻⁹, a scaled 45°-class rotation whose
    * exact inverse has entries ±256 (det = −2s², adjugate entries ±s),
    * so the rotated sky↔pixel map stays dyadic-exact end to end: the
    * a34 determinism argument extended to a non-axis-aligned frame.
    */
  private[graft] val wcsRotCards: Seq[(String, String)] = Seq(
    "CRPIX1" -> "32.0", "CRVAL1" -> "180.0",
    "CRPIX2" -> "1.0", "CRVAL2" -> "-10.0",
    "CD1_1" -> "-0.001953125", "CD1_2" -> "0.001953125",
    "CD2_1" -> "0.001953125", "CD2_2" -> "0.001953125")

  /** The TAN planted WCS (a39): the rotated CD matrix behind a gnomonic
    * projection (CTYPE RA---TAN / DEC--TAN) — the header shape real
    * survey frames carry.
    */
  private[graft] val wcsTanCards: Seq[(String, String)] = wcsRotCards ++ Seq(
    "CTYPE1" -> "'RA---TAN'", "CTYPE2" -> "'DEC--TAN'")

  /** Writes a standard FITS file with a header-only primary HDU plus two
    * 2-d IMAGE extensions over the same planted frame: ext image #0 =
    * int16 with BSCALE=2/BZERO=100/BLANK=250 (physical = 2·raw + 100),
    * ext image #1 = float32 (value = raw/4, NaN where masked). Driver-side
    * by design: this writer synthesizes the FIXTURE (real image files
    * come from telescopes); the parallel path is the READER's row-range
    * splits, not the fixture writer.
    */
  def writeImageFits(path: String, width: Int, height: Long,
      wcs: Seq[(String, String)] = wcsCards): Unit = {
    val out = new DataOutputStream(
      new java.io.BufferedOutputStream(new FileOutputStream(path), 1 << 16))
    // Alignment CANNOT come from DataOutputStream.size() here: that
    // counter saturates at Int.MaxValue, so a frame past ~2 GiB would
    // silently mis-pad every later HDU (the table writers are safe — they
    // pad per in-memory section — but image data units are written
    // straight through). Track written bytes in a Long instead.
    var written = 0L
    def w(b: Array[Byte]): Unit = { out.write(b); written += b.length }
    def padBlock(fill: Byte): Unit = {
      val rem = ((FitsFormat.BlockSize - written % FitsFormat.BlockSize)
        % FitsFormat.BlockSize).toInt
      out.write(Array.fill(rem)(fill)); written += rem
    }
    try {
      w(card("SIMPLE", "T", quote = false))
      w(card("BITPIX", "8", quote = false))
      w(card("NAXIS", "0", quote = false))
      w(endCard); padBlock(' '.toByte)

      w(card("XTENSION", "IMAGE", quote = true))
      w(card("BITPIX", "16", quote = false))
      w(card("NAXIS", "2", quote = false))
      w(card("NAXIS1", width.toString, quote = false))
      w(card("NAXIS2", height.toString, quote = false))
      w(card("PCOUNT", "0", quote = false))
      w(card("GCOUNT", "1", quote = false))
      w(card("BSCALE", "2", quote = false))
      w(card("BZERO", "100", quote = false))
      w(card("BLANK", "250", quote = false))
      // per-frame WCS: a36's mosaic fixture plants one Dec strip per
      // frame; everything else keeps the shared planted cards
      wcs.foreach { case (k, v) => w(card(k, v, quote = false)) }
      w(endCard); padBlock(' '.toByte)
      var y = 0L
      while (y < height) {
        var x = 0
        while (x < width) { out.writeShort(imageRaw(x, y).toInt); x += 1 }
        written += width.toLong * 2
        y += 1
      }
      padBlock(0)

      w(card("XTENSION", "IMAGE", quote = true))
      w(card("BITPIX", "-32", quote = false))
      w(card("NAXIS", "2", quote = false))
      w(card("NAXIS1", width.toString, quote = false))
      w(card("NAXIS2", height.toString, quote = false))
      w(card("PCOUNT", "0", quote = false))
      w(card("GCOUNT", "1", quote = false))
      w(endCard); padBlock(' '.toByte)
      y = 0L
      while (y < height) {
        var x = 0
        while (x < width) {
          val raw = imageRaw(x, y)
          out.writeFloat(if (raw == 250) Float.NaN else raw / 4.0f)
          x += 1
        }
        written += width.toLong * 4
        y += 1
      }
      padBlock(0)
    } finally out.close()
  }

  /** Tile-compressed IMAGE export (ZIMAGE=T — fpack's DEFAULT shape,
    * completing the compressed surface after a17's gzip members and
    * a18's ZTABLE tables): writes a header-only primary plus TWO
    * compressed-image BINTABLE extensions over writeImageFits's planted
    * frame — ext #0 the int16 raster (BSCALE=2/BZERO=100, ZBLANK=250)
    * rice-coded per row-band tile, ext #1 the float32 raster (raw/4,
    * NaN mask) through GZIP_2 (byte-shuffle + gzip, the public
    * convention's float default; RICE is integer-only). Each stored row
    * is one tile's 1PB COMPRESSED_DATA descriptor; the heap holds the
    * blobs tile-major. Driver-side by design, like writeImageFits: the
    * FIXTURE synthesizer — the parallel path is the reader's
    * tile-boundary splits (a27).
    */
  def writeTiledImageFits(path: String, width: Int, height: Long,
      tileRows: Int, wcs: Seq[(String, String)] = wcsCards): Unit = {
    require(tileRows > 0, s"tileRows must be positive, got $tileRows")
    val nTiles = ((height + tileRows - 1) / tileRows).toInt
    // compress all tiles up front: PCOUNT and 1PB(max) live in the header
    def intTile(t: Int): Array[Byte] = {
      val y0 = t.toLong * tileRows
      val rows = math.min(tileRows.toLong, height - y0).toInt
      val raw = new Array[Byte](rows * width * 2)
      val bb = ByteBuffer.wrap(raw)
      var y = 0
      while (y < rows) {
        var x = 0
        while (x < width) { bb.putShort(imageRaw(x, y0 + y).toShort); x += 1 }
        y += 1
      }
      TileCodec.encodeCell("GRAFT_RICE_1", raw, 2)
    }
    def floatTile(t: Int): Array[Byte] = {
      val y0 = t.toLong * tileRows
      val rows = math.min(tileRows.toLong, height - y0).toInt
      val raw = new Array[Byte](rows * width * 4)
      val bb = ByteBuffer.wrap(raw)
      var y = 0
      while (y < rows) {
        var x = 0
        while (x < width) {
          val r = imageRaw(x, y0 + y)
          bb.putFloat(if (r == 250) Float.NaN else r / 4.0f)
          x += 1
        }
        y += 1
      }
      TileCodec.encodeCell("GZIP_2", raw, 4)
    }
    val out = new DataOutputStream(
      new java.io.BufferedOutputStream(new FileOutputStream(path), 1 << 16))
    var written = 0L
    def w(b: Array[Byte]): Unit = { out.write(b); written += b.length }
    def padBlock(fill: Byte): Unit = {
      val rem = ((FitsFormat.BlockSize - written % FitsFormat.BlockSize)
        % FitsFormat.BlockSize).toInt
      out.write(Array.fill(rem)(fill)); written += rem
    }
    def writeExt(zbitpix: Int, cmpType: String, blobs: Array[Array[Byte]],
        scaling: Seq[(String, String)]): Unit = {
      val pcount = blobs.foldLeft(0L)(_ + _.length)
      val varMax = blobs.foldLeft(0)((m, b) => math.max(m, b.length))
      w(tiledImageExtHeader(width, height, tileRows, nTiles, zbitpix,
        cmpType, pcount, varMax, scaling))
      // descriptor records: (blobBytes, heapOffset), heap tile-major
      var off = 0L
      val rec = ByteBuffer.allocate(8)
      blobs.foreach { b =>
        rec.clear(); rec.putInt(b.length); rec.putInt(off.toInt)
        w(rec.array().clone()); off += b.length
      }
      blobs.foreach(w)
      padBlock(0)
    }
    try {
      w(card("SIMPLE", "T", quote = false))
      w(card("BITPIX", "8", quote = false))
      w(card("NAXIS", "0", quote = false))
      w(endCard); padBlock(' '.toByte)
      writeExt(16, "GRAFT_RICE_1", Array.tabulate(nTiles)(intTile),
        Seq("BSCALE" -> "2", "BZERO" -> "100", "ZBLANK" -> "250") ++ wcs)
      writeExt(-32, "GZIP_2", Array.tabulate(nTiles)(floatTile), Seq.empty)
    } finally out.close()
  }

  /** The planted MASK pixel (the a32 oracle's closed form): label 2 on
    * a ~2.8% scatter (the a19 field mod 41), else an 8×8 checkerboard
    * of 1/0 — long constant runs with occasional breakers, the exact
    * workload run-length mask compression exists for. All-integer, so
    * the oracle recomputes it exactly.
    */
  def maskRaw(x: Long, y: Long): Long = {
    val f = (3 * y + 5 * x + 7) % 251
    if (f % 41 == 0) 2L
    else if (((x / 8) + (y / 8)) % 2 == 0) 1L
    else 0L
  }

  /** Tile-compressed MASK image (fpack's PLIO_1 class — segmentation
    * maps and bad-pixel masks; the r9 verdict's missing-#4 codec
    * family, PLIO half): the planted mask goes out as ONE ZIMAGE=T
    * BINTABLE, ZBITPIX 16, row-band tiles run-length coded per tile
    * (GRAFT_PLIO_1 — the private-label honesty rule, see TileCodec).
    * Driver-side fixture synthesizer like writeTiledImageFits; the
    * parallel path is the a32 reader's tile splits.
    */
  def writeMaskImageFits(path: String, width: Int, height: Long,
      tileRows: Int): Unit = {
    require(tileRows > 0, s"tileRows must be positive, got $tileRows")
    val nTiles = ((height + tileRows - 1) / tileRows).toInt
    def tile(t: Int): Array[Byte] = {
      val y0 = t.toLong * tileRows
      val rows = math.min(tileRows.toLong, height - y0).toInt
      val vals = new Array[Long](rows * width)
      var i = 0
      var y = 0
      while (y < rows) {
        var x = 0
        while (x < width) { vals(i) = maskRaw(x, y0 + y); x += 1; i += 1 }
        y += 1
      }
      TileCodec.encodeCell("GRAFT_PLIO_1", TileCodec.longsToBytes(vals, 2), 2)
    }
    val blobs = Array.tabulate(nTiles)(tile)
    val pcount = blobs.foldLeft(0L)(_ + _.length)
    val varMax = blobs.foldLeft(0)((m, b) => math.max(m, b.length))
    val out = new DataOutputStream(
      new java.io.BufferedOutputStream(new FileOutputStream(path), 1 << 16))
    var written = 0L
    def w(b: Array[Byte]): Unit = { out.write(b); written += b.length }
    def padBlock(fill: Byte): Unit = {
      val rem = ((FitsFormat.BlockSize - written % FitsFormat.BlockSize)
        % FitsFormat.BlockSize).toInt
      out.write(Array.fill(rem)(fill)); written += rem
    }
    try {
      w(card("SIMPLE", "T", quote = false))
      w(card("BITPIX", "8", quote = false))
      w(card("NAXIS", "0", quote = false))
      w(endCard); padBlock(' '.toByte)
      w(tiledImageExtHeader(width, height, tileRows, nTiles, 16,
        "GRAFT_PLIO_1", pcount, varMax, Seq.empty))
      var off = 0L
      val rec = ByteBuffer.allocate(8)
      blobs.foreach { b =>
        rec.clear(); rec.putInt(b.length); rec.putInt(off.toInt)
        w(rec.array().clone()); off += b.length
      }
      blobs.foreach(w)
      padBlock(0)
    } finally out.close()
  }

  /** Lossy-QUANTIZED float compressed image — fpack's float DEFAULT
    * (RICE needs integers, so floats quantize per tile first): tile t
    * stores q = floor((v − ZZERO_t)/ZSCALE_t + 0.5) rice-coded, with
    * that tile's ZSCALE/ZZERO as per-row table columns beside the 1PB
    * descriptor and ZBLANK = −1 marking NaN pixels (q ≥ 0 for every
    * real pixel, so −1 is outside the code range). The quantizer here
    * is dither-free with CLOSED-FORM tile parameters — ZZERO = tile
    * min, ZSCALE = (max − min)/16383 (16,384 levels, |err| ≤ ZSCALE/2)
    * — every step an exactly-rounded IEEE op on exact quarter-integer
    * inputs, so writer, reader and the DuckDB oracle derive
    * bit-identical decoded values (the i61 determinism argument on the
    * storage axis). Driver-side fixture synthesizer, like
    * writeImageFits; the parallel path is the a29 reader's tile splits.
    */
  def writeQuantizedImageFits(path: String, width: Int, height: Long,
      tileRows: Int, cmpType: String = "GRAFT_RICE_1"): Unit = {
    require(tileRows > 0, s"tileRows must be positive, got $tileRows")
    val nTiles = ((height + tileRows - 1) / tileRows).toInt
    def tile(t: Int): (Array[Byte], Double, Double) = {
      val y0 = t.toLong * tileRows
      val rows = math.min(tileRows.toLong, height - y0).toInt
      val v = new Array[Double](rows * width)
      val valid = new Array[Boolean](rows * width)
      var vmin = Double.MaxValue; var vmax = -Double.MaxValue
      var i = 0
      var y = 0
      while (y < rows) {
        var x = 0
        while (x < width) {
          val raw = imageRaw(x, y0 + y)
          if (raw != 250) {
            val d = (raw / 4.0f).toDouble // exact quarter-integer
            v(i) = d; valid(i) = true
            if (d < vmin) vmin = d
            if (d > vmax) vmax = d
          }
          x += 1; i += 1
        }
        y += 1
      }
      require(vmin <= vmax, s"tile $t has no valid pixel (all-NaN tile unsupported)")
      val zscale = if (vmax == vmin) 1.0 else (vmax - vmin) / 16383.0
      val q = new Array[Long](rows * width)
      i = 0
      while (i < q.length) {
        q(i) = if (valid(i)) math.floor((v(i) - vmin) / zscale + 0.5).toLong
          else -1L
        i += 1
      }
      // GRAFT_HCOMP_1 (fpack's HCOMPRESS_1 class, a33): the 2-D
      // H-transform needs the tile GEOMETRY, so it has its own entry
      // point; every byte-run codec goes through encodeCell
      val blob = cmpType match {
        case "GRAFT_HCOMP_1" => TileCodec.hcompEncode(q, width, rows)
        case c => TileCodec.encodeCell(c, TileCodec.longsToBytes(q, 2), 2)
      }
      (blob, zscale, vmin)
    }
    val tiles = Array.tabulate(nTiles)(tile)
    val pcount = tiles.foldLeft(0L)(_ + _._1.length)
    // same guard tiledImageExtHeader applies to the plain-tiled path
    // (r9 ADVICE): the 1PB descriptors below store 32-bit heap offsets,
    // so a >2 GiB heap would silently truncate into a corrupt file
    require(pcount <= Int.MaxValue.toLong,
      s"quantized image heap of $pcount bytes exceeds 32-bit P descriptors; raise tileRows")
    val varMax = tiles.foldLeft(0)((m, t) => math.max(m, t._1.length))
    val out = new DataOutputStream(
      new java.io.BufferedOutputStream(new FileOutputStream(path), 1 << 16))
    var written = 0L
    def w(b: Array[Byte]): Unit = { out.write(b); written += b.length }
    def padBlock(fill: Byte): Unit = {
      val rem = ((FitsFormat.BlockSize - written % FitsFormat.BlockSize)
        % FitsFormat.BlockSize).toInt
      out.write(Array.fill(rem)(fill)); written += rem
    }
    try {
      w(card("SIMPLE", "T", quote = false))
      w(card("BITPIX", "8", quote = false))
      w(card("NAXIS", "0", quote = false))
      w(endCard); padBlock(' '.toByte)
      w(card("XTENSION", "BINTABLE", quote = true))
      w(card("BITPIX", "8", quote = false))
      w(card("NAXIS", "2", quote = false))
      w(card("NAXIS1", "24", quote = false))
      w(card("NAXIS2", nTiles.toString, quote = false))
      w(card("PCOUNT", pcount.toString, quote = false))
      w(card("GCOUNT", "1", quote = false))
      w(card("TFIELDS", "3", quote = false))
      w(card("TTYPE1", "COMPRESSED_DATA", quote = true))
      w(card("TFORM1", s"1PB($varMax)", quote = true))
      w(card("TTYPE2", "ZSCALE", quote = true))
      w(card("TFORM2", "1D", quote = true))
      w(card("TTYPE3", "ZZERO", quote = true))
      w(card("TFORM3", "1D", quote = true))
      w(card("ZIMAGE", "T", quote = false))
      w(card("ZCMPTYPE", cmpType, quote = true))
      w(card("ZBITPIX", "-32", quote = false))
      w(card("ZNAXIS", "2", quote = false))
      w(card("ZNAXIS1", width.toString, quote = false))
      w(card("ZNAXIS2", height.toString, quote = false))
      w(card("ZTILE1", width.toString, quote = false))
      w(card("ZTILE2", tileRows.toString, quote = false))
      w(card("ZQUANTIZ", "NO_DITHER", quote = true))
      w(card("ZBLANK", "-1", quote = false))
      w(endCard); padBlock(' '.toByte)
      var off = 0L
      val rec = ByteBuffer.allocate(24)
      tiles.foreach { case (blob, zscale, zzero) =>
        rec.clear()
        rec.putInt(blob.length); rec.putInt(off.toInt)
        rec.putDouble(zscale); rec.putDouble(zzero)
        w(rec.array().clone()); off += blob.length
      }
      tiles.foreach(t => w(t._1))
      padBlock(0)
    } finally out.close()
  }

  /** One block-padded compressed-image (ZIMAGE=T) BINTABLE extension
    * header — shared by the driver-side fixture writer and the
    * executor-side export.
    */
  private def tiledImageExtHeader(width: Int, height: Long, tileRows: Int,
      nTiles: Long, zbitpix: Int, cmpType: String, pcount: Long,
      varMax: Int, scaling: Seq[(String, String)],
      depth: Long = 1L): Array[Byte] = {
    require(pcount <= Int.MaxValue.toLong,
      s"tiled image heap of $pcount bytes exceeds 32-bit P descriptors; raise tileRows")
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.write(card("XTENSION", "BINTABLE", quote = true))
    out.write(card("BITPIX", "8", quote = false))
    out.write(card("NAXIS", "2", quote = false))
    out.write(card("NAXIS1", "8", quote = false))
    out.write(card("NAXIS2", nTiles.toString, quote = false))
    out.write(card("PCOUNT", pcount.toString, quote = false))
    out.write(card("GCOUNT", "1", quote = false))
    out.write(card("TFIELDS", "1", quote = false))
    out.write(card("TTYPE1", "COMPRESSED_DATA", quote = true))
    out.write(card("TFORM1", s"1PB($varMax)", quote = true))
    out.write(card("ZIMAGE", "T", quote = false))
    out.write(card("ZCMPTYPE", cmpType, quote = true))
    out.write(card("ZBITPIX", zbitpix.toString, quote = false))
    out.write(card("ZNAXIS", if (depth > 1L) "3" else "2", quote = false))
    out.write(card("ZNAXIS1", width.toString, quote = false))
    out.write(card("ZNAXIS2", height.toString, quote = false))
    if (depth > 1L) out.write(card("ZNAXIS3", depth.toString, quote = false))
    out.write(card("ZTILE1", width.toString, quote = false))
    out.write(card("ZTILE2", tileRows.toString, quote = false))
    if (depth > 1L) out.write(card("ZTILE3", "1", quote = false))
    scaling.foreach { case (k, v) => out.write(card(k, v, quote = false)) }
    out.write(endCard); pad(out, ' '.toByte)
    bos.toByteArray
  }

  /** Tile-compressed spectral CUBE fixture (fpack on a NAXIS=3 image —
    * the r9 verdict's remaining-gap #3: "an archive user with survey
    * datacubes hits it right after compressed frames"): writeCubeFits's
    * four planted extensions re-expressed as ZIMAGE=T BINTABLEs with
    * PER-PLANE row-band tiles (ZTILE1 = width, ZTILE2 = tileRows,
    * ZTILE3 = 1 — a tile never straddles planes, so every tile decodes
    * independently and the cube splits exactly like a frame):
    *   ext #0: ZBITPIX 8   rice, BSCALE 3/BZERO 10/ZBLANK 250
    *   ext #1: ZBITPIX 32  rice, BSCALE 2/BZERO -500/ZBLANK 250
    *   ext #2: ZBITPIX 64  rice, stored = raw·2654435761,
    *           ZBLANK = CubeBlank64
    *   ext #3: ZBITPIX -64 GZIP_2 (shuffle+gzip), stored = raw/8.0,
    *           NaN mask
    * — the same four stored value maps as the PLAIN cube, so a31's
    * oracle is a25's SQL VERBATIM (the a27 layout-independence trick on
    * the cube axis). Tiles stored plane-major: t = z·tilesPerPlane +
    * band. Driver-side fixture synthesizer like writeTiledImageFits;
    * the parallel path is the reader's tile splits.
    */
  def writeTiledCubeFits(path: String, width: Int, height: Long,
      depth: Long, tileRows: Int): Unit = {
    require(tileRows > 0, s"tileRows must be positive, got $tileRows")
    val tilesPerPlane = ((height + tileRows - 1) / tileRows).toInt
    val nTiles = depth.toInt * tilesPerPlane
    // one tile's logical values in row-major (y, x) order for plane z
    def tileVals(t: Int, store: Long => Long): Array[Long] = {
      val z = t / tilesPerPlane
      val y0 = (t % tilesPerPlane).toLong * tileRows
      val rows = math.min(tileRows.toLong, height - y0).toInt
      val out = new Array[Long](rows * width)
      var i = 0
      var y = 0
      while (y < rows) {
        var x = 0
        while (x < width) { out(i) = store(cubeRaw(x, y0 + y, z)); x += 1; i += 1 }
        y += 1
      }
      out
    }
    def riceTile(bytepix: Int, store: Long => Long)(t: Int): Array[Byte] =
      TileCodec.encodeCell("GRAFT_RICE_1",
        TileCodec.longsToBytes(tileVals(t, store), bytepix), bytepix)
    def floatTile(t: Int): Array[Byte] = {
      val z = t / tilesPerPlane
      val y0 = (t % tilesPerPlane).toLong * tileRows
      val rows = math.min(tileRows.toLong, height - y0).toInt
      val raw = new Array[Byte](rows * width * 8)
      val bb = ByteBuffer.wrap(raw)
      var y = 0
      while (y < rows) {
        var x = 0
        while (x < width) {
          val r = cubeRaw(x, y0 + y, z)
          bb.putDouble(if (r == 250) Double.NaN else r / 8.0)
          x += 1
        }
        y += 1
      }
      TileCodec.encodeCell("GZIP_2", raw, 8)
    }
    val out = new DataOutputStream(
      new java.io.BufferedOutputStream(new FileOutputStream(path), 1 << 16))
    var written = 0L
    def w(b: Array[Byte]): Unit = { out.write(b); written += b.length }
    def padBlock(fill: Byte): Unit = {
      val rem = ((FitsFormat.BlockSize - written % FitsFormat.BlockSize)
        % FitsFormat.BlockSize).toInt
      out.write(Array.fill(rem)(fill)); written += rem
    }
    def writeExt(zbitpix: Int, cmpType: String, blobs: Array[Array[Byte]],
        scaling: Seq[(String, String)]): Unit = {
      val pcount = blobs.foldLeft(0L)(_ + _.length)
      val varMax = blobs.foldLeft(0)((m, b) => math.max(m, b.length))
      w(tiledImageExtHeader(width, height, tileRows, nTiles, zbitpix,
        cmpType, pcount, varMax, scaling, depth))
      var off = 0L
      val rec = ByteBuffer.allocate(8)
      blobs.foreach { b =>
        rec.clear(); rec.putInt(b.length); rec.putInt(off.toInt)
        w(rec.array().clone()); off += b.length
      }
      blobs.foreach(w)
      padBlock(0)
    }
    try {
      w(card("SIMPLE", "T", quote = false))
      w(card("BITPIX", "8", quote = false))
      w(card("NAXIS", "0", quote = false))
      w(endCard); padBlock(' '.toByte)
      writeExt(8, "GRAFT_RICE_1", Array.tabulate(nTiles)(riceTile(1, identity)),
        Seq("BSCALE" -> "3", "BZERO" -> "10", "ZBLANK" -> "250"))
      writeExt(32, "GRAFT_RICE_1", Array.tabulate(nTiles)(riceTile(4, identity)),
        Seq("BSCALE" -> "2", "BZERO" -> "-500", "ZBLANK" -> "250"))
      writeExt(64, "GRAFT_RICE_1",
        Array.tabulate(nTiles)(riceTile(8, _ * 2654435761L)),
        Seq("ZBLANK" -> CubeBlank64.toString))
      writeExt(-64, "GZIP_2", Array.tabulate(nTiles)(floatTile), Seq.empty)
    } finally out.close()
  }

  /** Executor-side parallel tile-compressed IMAGE export — the write
    * half of the a27 read path (an archive EXPORTS compressed rasters,
    * not just serves them), following `writeTiledDataFrame`'s proven
    * pass structure on the image axis:
    *
    *  1. row count + contiguity check (cheap aggregates);
    *  2. ONE alignment shuffle — rows keyed by y and range-partitioned
    *     so every task owns whole consecutive row-band tiles (a tile is
    *     one compression unit and may not straddle tasks);
    *  3. sizes pass — each task rice-compresses its tiles and reports
    *     only blob SIZES (deterministic codec, so pass 3 and pass 5
    *     agree byte-for-byte);
    *  4. the driver lays out the heap, writes the primary + ext header
    *     and ALL 1PB descriptors (metadata, nTiles × 8 bytes — the
    *     sanctioned bounded collect), pre-sizes the file;
    *  5. write pass — each task re-compresses and writes its blobs at
    *     their assigned heap positions via positioned channel writes.
    *
    * No pixel ever moves through the driver. Input df: one row per
    * image row — (y: long, px: array<long> of `width` raw int16-range
    * values); y must cover [0, height) exactly once. The export reads
    * back through `locateTiledImage` + TileCodec (the a27 reader), and
    * a28's gate hash-proves the round-trip against the closed-form
    * oracle.
    * `path` must be a filesystem path that every executor shares
    * (`sharedLocalFile`): each task opens it to write its own byte range.
    */
  def writeTiledImageDataFrame(path: String, df: DataFrame, width: Int,
      tileRows: Int, scaling: Seq[(String, String)] = Seq.empty): Unit = {
    val file = sharedLocalFile(path)
    require(tileRows > 0, s"tileRows must be positive, got $tileRows")
    require(width > 0, s"width must be positive, got $width")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    import org.apache.spark.rdd.RDD.rddToPairRDDFunctions
    val rdd0 = df.select(df.col("y").cast(org.apache.spark.sql.types.LongType),
        df.col("px"))
      .rdd.map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .persist(lvl)
    try {
      val (height, maxY, minY) = {
        val (n, mx, mn) = rdd0.map { case (y, _) => (1L, y, y) }
          .fold((0L, Long.MinValue, Long.MaxValue)) { case ((n1, x1, m1), (n2, x2, m2)) =>
            (n1 + n2, math.max(x1, x2), math.min(m1, m2)) }
        (n, mx, mn)
      }
      require(height > 0, "tiled image export of an empty frame")
      // contiguity, pass 1 of 2: exactly `height` rows spanning [0, height).
      // count+min+max alone cannot catch a duplicate y PAIRED with a gap
      // (r9 ADVICE) — that case is caught per tile in compress(), where
      // each sorted row must sit at its exact expected y.
      require(minY == 0L && maxY == height - 1,
        s"image rows must cover [0, $height) exactly; saw y in [$minY, $maxY]")
      val nTiles = (height + tileRows - 1) / tileRows
      val tasks = math.max(1, rdd0.getNumPartitions)
      val tilesPerTask = math.max(1L, (nTiles + tasks - 1) / tasks)
      val partitioner = new org.apache.spark.Partitioner {
        def numPartitions: Int = tasks
        def getPartition(key: Any): Int =
          ((key.asInstanceOf[Long] / tileRows) / tilesPerTask).toInt
      }
      val aligned = rdd0.repartitionAndSortWithinPartitions(partitioner)
        .persist(lvl)
      try {
        // consecutive sorted ys group into whole tiles; deterministic, so
        // the sizes pass and the write pass agree
        def compress(it: Iterator[(Long, Array[Long])]): Iterator[(Long, Array[Byte])] =
          new Iterator[(Long, Array[Byte])] {
            private val bi = it.buffered
            def hasNext: Boolean = bi.hasNext
            def next(): (Long, Array[Byte]) = {
              val tileId = bi.head._1 / tileRows
              val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long])]
              while (bi.hasNext && bi.head._1 / tileRows == tileId)
                rows += bi.next()
              // contiguity, pass 2 of 2 (r9 ADVICE): every sorted row must
              // sit at its exact slot — a duplicate y paired with a gap
              // passes the global count+min+max check but would shear
              // this tile's pixels, surfacing only as a decode error or
              // hash mismatch much later
              rows.zipWithIndex.foreach { case ((y, _), i) =>
                require(y == tileId * tileRows + i,
                  s"tile $tileId row $i: expected y=${tileId * tileRows + i}, " +
                    s"saw y=$y — duplicate or gap in the input rows")
              }
              val raw = new Array[Byte](rows.length * width * 2)
              val bb = ByteBuffer.wrap(raw)
              rows.foreach { case (y, px) =>
                require(px.length == width,
                  s"row $y has ${px.length} pixels, frame width is $width")
                var x = 0
                while (x < width) {
                  val v = px(x)
                  require(v >= Short.MinValue && v <= Short.MaxValue,
                    s"pixel ($x, $y) = $v exceeds int16; scale first (BSCALE/BZERO)")
                  bb.putShort(v.toShort); x += 1
                }
              }
              (tileId, TileCodec.encodeCell("GRAFT_RICE_1", raw, 2))
            }
          }
        val sizes = aligned.mapPartitions(it =>
          compress(it).map { case (t, b) => (t, b.length) }).collect().sortBy(_._1)
        require(sizes.length == nTiles,
          s"tile accounting: ${sizes.length} compressed tiles for $nTiles planned")
        val heapOff = new Array[Long](sizes.length)
        var off = 0L
        sizes.zipWithIndex.foreach { case ((_, len), i) =>
          heapOff(i) = off; off += len
        }
        val pcount = off
        val varMax = sizes.foldLeft(0)((m, s) => math.max(m, s._2))
        val primary = {
          val bos = new ByteArrayOutputStream()
          val o = new DataOutputStream(bos)
          o.write(card("SIMPLE", "T", quote = false))
          o.write(card("BITPIX", "8", quote = false))
          o.write(card("NAXIS", "0", quote = false))
          o.write(endCard); pad(o, ' '.toByte)
          bos.toByteArray
        }
        val ext = tiledImageExtHeader(width, height, tileRows, nTiles, 16,
          "GRAFT_RICE_1", pcount, varMax, scaling)
        val recordsStart = primary.length.toLong + ext.length
        val theap = 8L * nTiles
        val dataEnd = recordsStart + theap + pcount
        val raf = new RandomAccessFile(file, "rw")
        try {
          raf.setLength(0)
          raf.setLength(dataEnd + blockPad(dataEnd - recordsStart))
          raf.seek(0); raf.write(primary); raf.write(ext)
          val rec = ByteBuffer.allocate(8)
          sizes.zipWithIndex.foreach { case ((_, len), i) =>
            rec.clear(); rec.putInt(len); rec.putInt(heapOff(i).toInt)
            raf.write(rec.array())
          }
        } finally raf.close()
        val heapStart = recordsStart + theap
        val blobSizes: Array[Int] = sizes.map(_._2)
        aligned.mapPartitions { it =>
          val tiles = compress(it)
          if (tiles.hasNext) {
            val f = new RandomAccessFile(file, "rw")
            try {
              val ch = f.getChannel
              tiles.foreach { case (t, blob) =>
                require(blob.length == blobSizes(t.toInt),
                  s"tiled image export: tile $t re-compressed to ${blob.length} " +
                    s"bytes but the sizes pass measured ${blobSizes(t.toInt)} — " +
                    "cached partition lost and recomputed differently; aborting " +
                    "before corrupting the heap")
                ch.write(ByteBuffer.wrap(blob), heapStart + heapOff(t.toInt))
              }
            } finally f.close()
          }
          Iterator.single(0)
        }.count()
      } finally aligned.unpersist(blocking = false)
    } finally rdd0.unpersist(blocking = false)
  }

  /** The planted cube voxel (the a25/a26 oracle's closed form): raw pixel
    * (x, y, z) = (3y + 5x + 11z + 7) mod 251; 250 is the missing-pixel
    * sentinel. Per (y, z) row, x → raw is injective (5 is invertible mod
    * 251), so every row keeps ≥ 63 valid pixels — no empty-aggregate rows.
    */
  def cubeRaw(x: Long, y: Long, z: Long): Long = (3 * y + 5 * x + 11 * z + 7) % 251

  /** BLANK sentinel of the int64 cube extension: raw 250 stored through
    * the same ×2654435761 map as real values.
    */
  val CubeBlank64: Long = 250L * 2654435761L

  /** Writes a standard FITS file with a header-only primary plus FOUR 3-d
    * IMAGE extensions (NAXIS3 = depth spectral cube) over the same
    * planted voxel field — one per BITPIX code a19's 2-d gate does not
    * cover:
    *   ext #0: BITPIX 8   (UNSIGNED bytes per FITS 4.0), BSCALE 3,
    *           BZERO 10, BLANK 250        (physical = 3·raw + 10)
    *   ext #1: BITPIX 32, BSCALE 2, BZERO -500, BLANK 250
    *   ext #2: BITPIX 64, stored = raw · 2654435761 (exercises high
    *           bytes), BLANK = CubeBlank64
    *   ext #3: BITPIX -64, stored = raw/8.0 (exact in binary64), NaN mask
    * Driver-side by design, like writeImageFits: the fixture synthesizer;
    * the parallel path is the reader's (plane, row)-range splits.
    */
  def writeCubeFits(path: String, width: Int, height: Long, depth: Long): Unit = {
    val out = new DataOutputStream(
      new java.io.BufferedOutputStream(new FileOutputStream(path), 1 << 16))
    var written = 0L
    def w(b: Array[Byte]): Unit = { out.write(b); written += b.length }
    def padBlock(fill: Byte): Unit = {
      val rem = ((FitsFormat.BlockSize - written % FitsFormat.BlockSize)
        % FitsFormat.BlockSize).toInt
      out.write(Array.fill(rem)(fill)); written += rem
    }
    def header(bitpix: Int, extra: Seq[(String, String)]): Unit = {
      w(card("XTENSION", "IMAGE", quote = true))
      w(card("BITPIX", bitpix.toString, quote = false))
      w(card("NAXIS", "3", quote = false))
      w(card("NAXIS1", width.toString, quote = false))
      w(card("NAXIS2", height.toString, quote = false))
      w(card("NAXIS3", depth.toString, quote = false))
      w(card("PCOUNT", "0", quote = false))
      w(card("GCOUNT", "1", quote = false))
      extra.foreach { case (k, v) => w(card(k, v, quote = false)) }
      w(endCard); padBlock(' '.toByte)
    }
    def voxels(bytesPerPx: Long)(write: Long => Unit): Unit = {
      var z = 0L
      while (z < depth) {
        var y = 0L
        while (y < height) {
          var x = 0
          while (x < width) { write(cubeRaw(x, y, z)); x += 1 }
          written += width * bytesPerPx
          y += 1
        }
        z += 1
      }
      padBlock(0)
    }
    try {
      w(card("SIMPLE", "T", quote = false))
      w(card("BITPIX", "8", quote = false))
      w(card("NAXIS", "0", quote = false))
      w(endCard); padBlock(' '.toByte)

      header(8, Seq("BSCALE" -> "3", "BZERO" -> "10", "BLANK" -> "250"))
      voxels(1)(raw => out.writeByte(raw.toInt)) // 0..250: fits unsigned

      // the int32 extension carries the planted sky+spectral WCS (a35's
      // sky-addressed cube cutout targets this HDU, a26's convention)
      header(32, Seq("BSCALE" -> "2", "BZERO" -> "-500", "BLANK" -> "250")
        ++ wcsCubeCards)
      voxels(4)(raw => out.writeInt(raw.toInt))

      header(64, Seq("BLANK" -> CubeBlank64.toString))
      voxels(8)(raw => out.writeLong(raw * 2654435761L))

      header(-64, Seq.empty)
      voxels(8)(raw =>
        out.writeDouble(if (raw == 250) Double.NaN else raw / 8.0))
    } finally out.close()
  }
}
