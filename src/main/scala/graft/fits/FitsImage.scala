package graft.fits

import java.nio.ByteBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}

import FitsFormat.{ImageHdu, ImageSpec, TiledImageSpec}

/** FITS image HDUs read through Hadoop FS — plain IMAGE HDUs (2-d frames
  * and NAXIS3 cubes) and tile-compressed images (ZIMAGE=T, including the
  * quantized-float layout).
  *
  * The driver reads each HDU's header once (`image`, `tiledImage`); a read
  * (`rows`) then splits the HDUs' read units over Spark tasks. A unit is
  * one image row of a plain HDU, or one row-band tile of a compressed one
  * (a tile is one compression unit). Each task opens the file once
  * through the session's Hadoop conf and reads only its units with `seek`
  * + `readFully`: a plain row's bytes inside the crop box, or a tile's
  * stored record and heap cell. So the bytes a cutout touches scale with
  * the box, or with the tiles that cover it, not with the image.
  *
  * Decoded pixels are physical values: BSCALE/BZERO applied, BLANK (ZBLANK)
  * and NaN pixels null, and the quantized layout's per-tile ZSCALE/ZZERO
  * applied to its codes. A short read, a tile descriptor outside the heap,
  * or a tile cell that does not decompress to its size fails with an
  * `IOException` naming the file, the image HDU and the byte offset.
  */
object FitsImage {

  /** One image HDU of `path` and the box of it a read covers: planes
    * [z0, z1), rows [y0, y1), columns [x0, x1), ends exclusive — the whole
    * image until `crop`ped. `label` names the HDU in errors.
    */
  final case class Hdu(path: String, label: String, spec: ImageHdu,
      z0: Long, z1: Long, y0: Long, y1: Long, x0: Int, x1: Int) {

    def crop(y0: Long, y1: Long, x0: Int, x1: Int, z0: Long = 0L, z1: Long = 1L): Hdu = {
      require(0 <= z0 && z0 <= z1 && z1 <= spec.depth && 0 <= y0 && y0 <= y1 &&
        y1 <= spec.height && 0 <= x0 && x0 <= x1 && x1 <= spec.width,
        s"box [$z0, $z1) x [$y0, $y1) x [$x0, $x1) is outside $label of '$path' " +
          s"(${spec.width} x ${spec.height} x ${spec.depth})")
      copy(z0 = z0, z1 = z1, y0 = y0, y1 = y1, x0 = x0, x1 = x1)
    }

    private[fits] def cols: Int = x1 - x0

    /** Read units per plane: the box's rows, or the tiles covering them. */
    private[fits] def perPlane: Long =
      if (y1 <= y0 || x1 <= x0) 0L
      else spec match {
        case t: TiledImageSpec => (y1 - 1) / t.tileRows - y0 / t.tileRows + 1
        case _ => y1 - y0
      }

    private[fits] def units: Long = (z1 - z0) * perPlane

    /** Decoded bytes of one unit: the box's part of a row, or a tile. */
    private[fits] def unitBytes: Long = spec match {
      case t: TiledImageSpec => t.tileRows.toLong * t.width * t.codeBytes
      case p: ImageSpec => cols.toLong * p.bytesPerPx
    }
  }

  /** The n-th plain 2-d/3-d IMAGE HDU of `path` (the primary array counts
    * as image 0 when it holds data).
    */
  def image(path: String, n: Int): Hdu =
    whole(path, s"image HDU #$n", locate(path)(FitsFormat.locateImage(_, n)))

  /** The n-th tile-compressed IMAGE HDU of `path`. */
  def tiledImage(path: String, n: Int): Hdu =
    whole(path, s"tiled image HDU #$n", locate(path)(FitsFormat.locateTiledImage(_, n)))

  private def whole(path: String, label: String, spec: ImageHdu): Hdu =
    Hdu(path, label, spec, 0L, spec.depth, 0L, spec.height, 0, spec.width.toInt)

  /** A driver-side header walk over one stream of `path`. */
  private def locate[T](path: String)(walk: java.io.DataInput => T): T = {
    val p = new Path(path)
    val in = p.getFileSystem(FitsTable.driverHadoopConf()).open(p)
    try walk(in) finally in.close()
  }

  /** Every HDU's header cards in each of `paths`, as (path, HDU index,
    * cards). One task per file walks the headers and skips the data
    * units, so the bytes read scale with the headers; a file truncated in
    * a header or a data unit fails (`FitsFormat.walkHdus`).
    */
  def headers(s: SparkSession, paths: Seq[String]): Dataset[(String, Int, Map[String, String])] = {
    import s.implicits._
    val conf = FitsScan.broadcastHadoopConf()
    s.createDataset(s.sparkContext.parallelize(paths, paths.size).flatMap { path =>
      val p = new Path(path)
      val fs = p.getFileSystem(conf.value.value)
      val in = fs.open(p)
      val cards =
        try FitsFormat.listHdus(in, fs.getFileStatus(p).getLen) finally in.close()
      cards.zipWithIndex.map { case (c, i) => (path, i, c) }
    })
  }

  /** Reads the boxes of `hdus`, all HDUs of one file, and applies `f` to
    * each decoded image row. Rows of one task reuse one `PixelRow`, so `f`
    * must copy out what it keeps. Splits: `tileSplits` over the read
    * units, priced by the largest unit's decoded bytes.
    */
  def rows[T: Encoder](s: SparkSession, hdus: Seq[Hdu])(f: PixelRow => T): Dataset[T] = {
    val path = hdus.head.path
    require(hdus.forall(_.path == path), "one image read covers the HDUs of one file")
    val starts = hdus.scanLeft(0L)(_ + _.units).toArray
    val total = starts.last
    val splits = math.max(1, tileSplits(total, hdus.map(_.unitBytes).max))
    val conf = FitsScan.broadcastHadoopConf()
    s.range(0, total, 1, splits).mapPartitions { ids =>
      if (!ids.hasNext) Iterator.empty
      else {
        // opened lazily per non-empty split and closed when the task ends
        // (or fails), so the rows stream instead of being buffered
        val reader = new ImageReader(path, conf.value.value, hdus)
        Option(TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => reader.close()))
        ids.flatMap { id =>
          val u: Long = id
          var h = 0
          while (starts(h + 1) <= u) h += 1
          reader.read(h, u - starts(h)).map(f)
        }
      }
    }
  }

  /** Split count for an image read, derived from the data: one task per
    * ~1 MiB of decoded pixels. Small frames floor at min(units, 8) tasks,
    * large ones split wider; never more splits than units (a tile is
    * indivisible, so extra partitions would be empty tasks). The 4096 cap
    * bounds the local task count; a cluster deployment raises the per-task
    * byte target (64-128 MiB) instead of leaning on the cap.
    */
  def tileSplits(totalTiles: Long, tileBytes: Long): Int = {
    val targetTaskBytes = 1L << 20
    val byBytes = (totalTiles * math.max(1L, tileBytes) +
      targetTaskBytes - 1) / targetTaskBytes
    math.max(math.min(totalTiles, 8L),
      math.min(math.min(byBytes, totalTiles), 4096L)).toInt
  }

  /** One task's reader: one open stream of `path` for all its units. */
  private final class ImageReader(path: String, conf: Configuration, hdus: Seq[Hdu]) {
    private val p = new Path(path)
    private val in = p.getFileSystem(conf).open(p)
    private val units = hdus.map(h => FitsFormat.DataUnit(path, h.label))
    private val row = new PixelRow(hdus.map(_.cols).max)
    // one plain row's box, or one tile's stored record
    private val buf = new Array[Byte](hdus.map(h => h.spec match {
      case t: TiledImageSpec => t.recordBytes
      case p: ImageSpec => h.cols * p.bytesPerPx
    }).max)
    private val bufBytes = ByteBuffer.wrap(buf)

    def close(): Unit = in.close()

    private def readAt(h: Int, at: Long, dst: Array[Byte], len: Int, what: => String): Unit =
      units(h).reading(what, at) { in.seek(at); in.readFully(dst, 0, len) }

    /** The rows of unit `k` of HDU `h`: one row of a plain image, or the
      * box's rows of one tile.
      */
    def read(h: Int, k: Long): Iterator[PixelRow] = {
      val hdu = hdus(h)
      val z = hdu.z0 + k / hdu.perPlane
      hdu.spec match {
        case sp: ImageSpec =>
          val y = hdu.y0 + k % hdu.perPlane
          val len = hdu.cols * sp.bytesPerPx
          val at = sp.rowOffset(z, y) + hdu.x0.toLong * sp.bytesPerPx
          readAt(h, at, buf, len, s"short read of $len pixel bytes (file truncated?)")
          Iterator.single(row.fill(h, sp, z, y, hdu.x0, hdu.cols, bufBytes, 0, None))
        case sp: TiledImageSpec => readTile(h, hdu, sp, z, hdu.y0 / sp.tileRows + k % hdu.perPlane)
      }
    }

    private def readTile(h: Int, hdu: Hdu, sp: TiledImageSpec, z: Long,
        band: Long): Iterator[PixelRow] = {
      val t = z * sp.tilesPerPlane + band
      val unit = units(h)
      val recAt = sp.descOffset(t)
      readAt(h, recAt, buf, sp.recordBytes, s"tile $t: short read of its descriptor")
      val len = bufBytes.getInt(0).toLong
      val off = bufBytes.getInt(4).toLong
      val quant = if (sp.quant) Some((bufBytes.getDouble(8), bufBytes.getDouble(16))) else None
      if (len < 0 || off < 0 || off + len > sp.heapSize)
        throw unit.corrupt(s"tile $t: descriptor out of range ($len bytes at heap offset " +
          s"$off, heap of ${sp.heapSize} bytes)", recAt)
      val cellAt = sp.heapStart + off
      val blob = new Array[Byte](len.toInt)
      readAt(h, cellAt, blob, len.toInt, s"tile $t: short heap read of $len bytes")
      val rows = sp.rowsInTile(t)
      val w = sp.width.toInt
      val expected = rows * w * sp.codeBytes
      val raw =
        try TileCodec.decodeCell(sp.cmpType, blob, rows * w, sp.codeBytes, Some((w, rows)))
        catch { case scala.util.control.NonFatal(e) =>
          throw unit.corrupt(s"tile $t: ${sp.cmpType} cell of $len bytes does not decode",
            cellAt, e)
        }
      if (raw.length != expected)
        throw unit.corrupt(s"tile $t: ${sp.cmpType} cell decompressed to ${raw.length} " +
          s"bytes, expected $expected", cellAt)
      val bb = ByteBuffer.wrap(raw)
      val first = band * sp.tileRows // the tile's first row in its plane
      (math.max(hdu.y0, first) until math.min(hdu.y1, first + rows)).iterator.map { y =>
        row.fill(h, sp, z, y, hdu.x0, hdu.cols, bb,
          ((y - first).toInt * w + hdu.x0) * sp.codeBytes, quant)
      }
    }
  }
}

/** One decoded image row of a read: the physical values of `width`
  * pixels from column `x0` of row `y` in plane `z` of the read's `hdu`-th
  * HDU (its position in the list given to `FitsImage.rows`).
  */
final class PixelRow private[fits] (capacity: Int) {
  private var h = 0
  private var zz = 0L
  private var yy = 0L
  private var xx0 = 0
  private var n = 0
  private var bp = 0
  private var integer = true
  private var scaled = false
  private var bscale = 1.0
  private var bzero = 0.0
  private var hasBlank = false
  private var blankValue = 0L
  // stored integers, or physical reals (NaN = null) for float and
  // quantized images
  private val ints = new Array[Long](capacity)
  private val reals = new Array[Double](capacity)

  def hdu: Int = h
  def z: Long = zz
  def y: Long = yy
  def x0: Int = xx0
  def width: Int = n
  /** BITPIX of a plain image, ZBITPIX of a compressed one. */
  def bitpix: Int = bp

  /** A BLANK/ZBLANK or NaN pixel. */
  def isNull(i: Int): Boolean =
    if (integer) hasBlank && ints(i) == blankValue else reals(i).isNaN

  /** The physical value of pixel i; an unscaled integer pixel exactly. */
  def long(i: Int): Long =
    if (!integer) reals(i).toLong
    else if (scaled) (bzero + bscale * ints(i)).toLong
    else ints(i)

  def double(i: Int): Double =
    if (integer) bzero + bscale * ints(i) else reals(i)

  /** Decodes `width` big-endian pixel codes from `src[base…]`; `quant` is
    * a quantized tile's (ZSCALE, ZZERO).
    */
  private[fits] def fill(hdu: Int, spec: ImageHdu, z: Long, y: Long, x0: Int,
      width: Int, src: ByteBuffer, base: Int,
      quant: Option[(Double, Double)]): PixelRow = {
    h = hdu; zz = z; yy = y; xx0 = x0; n = width; bp = spec.bitpix
    bscale = spec.bscale; bzero = spec.bzero
    scaled = bscale != 1.0 || bzero != 0.0
    hasBlank = spec.blank.isDefined
    blankValue = spec.blank.getOrElse(0L)
    integer = bp > 0 && quant.isEmpty
    var i = 0
    quant match {
      case Some((zscale, zzero)) =>
        while (i < n) {
          val q = src.getShort(base + 2 * i).toLong
          reals(i) = if (hasBlank && q == blankValue) Double.NaN else zzero + q.toDouble * zscale
          i += 1
        }
      case None => bp match {
        case 8 => while (i < n) { ints(i) = (src.get(base + i) & 0xff).toLong; i += 1 } // unsigned
        case 16 => while (i < n) { ints(i) = src.getShort(base + 2 * i).toLong; i += 1 }
        case 32 => while (i < n) { ints(i) = src.getInt(base + 4 * i).toLong; i += 1 }
        case 64 => while (i < n) { ints(i) = src.getLong(base + 8 * i); i += 1 }
        case -32 => while (i < n) { reals(i) = src.getFloat(base + 4 * i).toDouble; i += 1 }
        case -64 => while (i < n) { reals(i) = src.getDouble(base + 8 * i); i += 1 }
        case other => throw new IllegalArgumentException(s"BITPIX $other is not a FITS pixel type")
      }
      if (!integer && scaled) {
        i = 0
        while (i < n) { reals(i) = bzero + bscale * reals(i); i += 1 }
      }
    }
    this
  }
}
