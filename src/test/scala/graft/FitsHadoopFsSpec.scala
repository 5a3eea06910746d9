package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import graft.fits.{FitsFormat, FitsImage, FitsWriter}
import graft.ops.ScanOps
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, FileStatus, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame

/** A local file under the `countfs` scheme: a `FilterFileSystem` over the
  * raw local filesystem that maps `countfs:///p` to `file:///p` and counts
  * the bytes its streams hand to their readers.
  */
class CountingFileSystem extends FilterFileSystem(new RawLocalFileSystem) {
  private def local(p: Path): Path = new Path("file", null, p.toUri.getPath)
  override def getUri: URI = URI.create("countfs:///")
  override def getFileStatus(f: Path): FileStatus = {
    val st = fs.getFileStatus(local(f))
    st.setPath(f)
    st
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val in = fs.open(local(f), bufferSize)
    new FSDataInputStream(new FSInputStream {
      override def read(): Int = {
        val b = in.read()
        if (b >= 0) CountingFileSystem.bytesRead.incrementAndGet()
        b
      }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val n = in.read(b, off, len)
        if (n > 0) CountingFileSystem.bytesRead.addAndGet(n)
        n
      }
      override def seek(pos: Long): Unit = in.seek(pos)
      override def getPos: Long = in.getPos
      override def seekToNewSource(target: Long): Boolean = false
      override def close(): Unit = in.close()
    })
  }
}

object CountingFileSystem {
  val bytesRead = new AtomicLong
}

/** Image reads, a header inventory and a table read through a filesystem
  * that is not `file:`: the same results as the local read, and cutouts
  * that read only the cutout's rows or its covering tiles.
  */
class FitsHadoopFsSpec extends SparkTestBase {

  private def counted(p: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingFileSystem].getName)
    "countfs://" + p
  }

  private def same(a: DataFrame, b: DataFrame): Unit = {
    val (x, y) = (a.collect().toSeq, b.collect().toSeq)
    assert(x.nonEmpty && x == y)
  }

  test("plain, tiled and quantized images read through countfs equal the local read") {
    val plain = Util.scratch("hfs_plain.fits")
    FitsWriter.writeImageFits(plain, 64, 300L)
    val tiled = Util.scratch("hfs_tiled.fits")
    FitsWriter.writeTiledImageFits(tiled, 64, 300L, 64)
    val quant = Util.scratch("hfs_quant.fits")
    FitsWriter.writeQuantizedImageFits(quant, 64, 300L, 64)
    def stats(p: String, hdu: (String, Int) => FitsImage.Hdu) =
      ScanOps.imageStats(spark, Seq(hdu(p, 0), hdu(p, 1))).orderBy("hdu", "y")
    val before = CountingFileSystem.bytesRead.get
    same(stats(counted(plain), FitsImage.image), stats(plain, FitsImage.image))
    same(stats(counted(tiled), FitsImage.tiledImage), stats(tiled, FitsImage.tiledImage))
    same(ScanOps.quantizedStats(spark, counted(quant)), ScanOps.quantizedStats(spark, quant))
    assert(CountingFileSystem.bytesRead.get > before, "nothing was read through countfs")
  }

  test("a header inventory and a table read through countfs equal the local read") {
    import spark.implicits._
    val img = Util.scratch("hfs_inventory.fits")
    FitsWriter.writeImageFits(img, 16, 5L)
    def inventory(p: String) =
      FitsImage.headers(spark, Seq(p)).map { case (_, i, cards) => (i, cards) }
        .collect().sortBy(_._1).toSeq
    assert(inventory(counted(img)) == inventory(img) && inventory(img).size == 3)
    val tbl = Util.scratch("hfs_table.fits")
    FitsWriter.writeTiledDataFrame(tbl,
      spark.range(1000).map(i => (i, i * 0.5, s"v$i")).toDF("k", "d", "s").coalesce(1),
      tileLen = 100, strLens = Map("s" -> 6))
    same(spark.read.format("fits").load(counted(tbl)).orderBy("k"),
      spark.read.format("fits").load(tbl).orderBy("k"))
  }

  test("cutouts read only the cutout's rows (plain) or its covering tiles (tiled)") {
    val h = 300L
    val (y0, y1, x0, x1) = (h / 4, h / 2, 16, 48) // a20's and a30's box
    val plain = Util.scratch("hfs_cut_plain.fits")
    FitsWriter.writeImageFits(plain, 64, h)
    val box = FitsImage.image(counted(plain), 0).crop(y0, y1, x0, x1)
    CountingFileSystem.bytesRead.set(0)
    val rows = ScanOps.cutout(spark, box).collect()
    assert(rows.length == y1 - y0)
    assert(CountingFileSystem.bytesRead.get == (y1 - y0) * (x1 - x0) * 2,
      s"plain cutout read ${CountingFileSystem.bytesRead.get} bytes")

    val tiled = Util.scratch("hfs_cut_tiled.fits")
    FitsWriter.writeTiledImageFits(tiled, 64, h, 64)
    val tbox = FitsImage.tiledImage(counted(tiled), 0).crop(y0, y1, x0, x1)
    val sp = tbox.spec.asInstanceOf[FitsFormat.TiledImageSpec]
    // covering tiles: their 8-byte descriptors plus their heap cells
    val covering = (y0 / 64) to ((y1 - 1) / 64)
    val raf = new java.io.RandomAccessFile(tiled, "r")
    val tileBytes =
      try covering.map { t => raf.seek(sp.descOffset(t)); 8L + raf.readInt() }.sum
      finally raf.close()
    CountingFileSystem.bytesRead.set(0)
    assert(ScanOps.cutout(spark, tbox).collect().length == y1 - y0)
    assert(CountingFileSystem.bytesRead.get == tileBytes,
      s"tiled cutout read ${CountingFileSystem.bytesRead.get} bytes, " +
        s"covering tiles ${covering.mkString(",")} hold $tileBytes")
    assert(tileBytes < sp.heapSize, "the box should not cover the whole image")
  }

  test("positioned FITS exports refuse a path that is not a shared filesystem path") {
    val df = Tables.t(spark, sfDir, "region")
    val e = intercept[IllegalArgumentException](
      FitsWriter.writeDataFrame("hdfs://namenode/tmp/region.fits", df))
    assert(e.getMessage.contains("'hdfs://namenode/tmp/region.fits'"), e.getMessage)
    Seq[String => Unit](
      FitsWriter.writeAsciiDataFrame(_, df, strLens = Map("r_name" -> 25)),
      FitsWriter.writeTiledDataFrame(_, df, tileLen = 2),
      FitsWriter.writeTiledImageDataFrame(_, df, width = 2, tileRows = 2))
      .foreach(w => intercept[IllegalArgumentException](w("s3a://bucket/region.fits")))
    // a file: URI names a local path and is written there
    val p = Util.scratch("hfs_file_uri.fits")
    FitsWriter.writeDataFrame("file://" + p, df.orderBy("r_regionkey"),
      strLens = Map("r_name" -> 25))
    same(spark.read.format("fits").load(p).orderBy("r_regionkey"), df.orderBy("r_regionkey"))
  }
}
