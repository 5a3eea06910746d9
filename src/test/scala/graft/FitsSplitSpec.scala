package graft

import graft.fits.{FitsFormat, FitsInputPartition, FitsScan, FitsTable, FitsWriter}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** Split sizing of the FITS scan: files are cut like Spark's file sources
  * (`FilePartition.maxSplitBytes` from `spark.sql.files.maxPartitionBytes`,
  * `spark.sql.files.openCostInBytes` and the default parallelism), tiled
  * tables on tile boundaries, gzip members whole, and `rowsPerSplit`
  * overrides the size rule.
  */
class FitsSplitSpec extends SparkTestBase {

  private val nRows = 1003 // not a multiple of the split count

  private def frame(n: Int): DataFrame =
    spark.range(n).select(col("id").as("k"), (col("id") * 1.5).as("d"),
      // trailing blanks and a tab: the byte-level 'A' trim is on the path
      concat(lit("s_"), col("id").cast("string"),
        when(col("id") % 3 === 0, lit("\t ")).otherwise(lit(""))).as("s"))

  private lazy val plain: String = {
    val p = Util.scratch("split_plain.fits")
    FitsWriter.writeDataFrame(p, frame(nRows), strLens = Map("s" -> 12))
    p
  }

  private lazy val tiled: String = {
    val p = Util.scratch("split_tiled.fits")
    FitsWriter.writeTiledDataFrame(p, frame(nRows), tileLen = 50,
      strLens = Map("s" -> 12))
    p
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def splits(path: String, rowsPerSplit: Option[Long] = None)
      : Seq[FitsInputPartition] = {
    val schema = FitsTable.readSpec(path, 0).spec.schema
    FitsScan.splitsFor(Seq(path), 0, schema, rowsPerSplit).toSeq
      .map(_.asInstanceOf[FitsInputPartition])
  }

  /** Count plus order-insensitive folds of per-row hashes. */
  private def digest(df: DataFrame): (Long, Long, Long) = {
    val cols = df.columns.map(col)
    val r = df.select(count(lit(1)), sum(hash(cols: _*).cast("long")),
      bit_xor(xxhash64(cols: _*))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def read(path: String, rowsPerSplit: Option[Long] = None): DataFrame = {
    val r = spark.read.format("fits")
    rowsPerSplit.fold(r)(n => r.option("rowsPerSplit", n.toString)).load(path)
  }

  private def assertTiles(ps: Seq[FitsInputPartition], units: Long): Unit = {
    assert(ps.head.rowStart == 0 && ps.last.rowEnd == units,
      s"ranges do not span [0, $units): ${ps.map(p => (p.rowStart, p.rowEnd))}")
    ps.zip(ps.tail).foreach { case (a, b) =>
      assert(a.rowEnd == b.rowStart, s"gap or overlap at ${a.rowEnd} / ${b.rowStart}")
    }
  }

  test("a small maxPartitionBytes cuts one BINTABLE into near-equal row ranges") {
    val rowBytes = FitsTable.readSpec(plain, 0).spec.rowBytes
    // 100 rows' worth of bytes caps each split: ceil(1003 / 100) = 11
    withConf("spark.sql.files.maxPartitionBytes" -> (rowBytes * 100).toString,
      "spark.sql.files.openCostInBytes" -> "0") {
      val ps = splits(plain)
      assert(ps.length == 11, s"expected 11 splits, got ${ps.length}")
      assertTiles(ps, nRows)
      val sizes = ps.map(p => p.rowEnd - p.rowStart)
      assert(sizes.max - sizes.min <= 1, s"split sizes differ by more than a row: $sizes")
      val multi = read(plain)
      assert(multi.rdd.getNumPartitions == 11)
      assert(digest(multi) == digest(read(plain, Some(nRows.toLong))),
        "multi-split read differs from the single-split read")
    }
  }

  test("default sizing: one split per core for a large file, one for a small one") {
    // shrink the openCost floor so the bytes-per-core term decides:
    // (bytes + openCost) / cores, which is at least bytes / cores
    withConf("spark.sql.files.openCostInBytes" -> "4") {
      assert(splits(plain).length == spark.sparkContext.defaultParallelism)
    }
    // under the default 4 MB openCost a file this small stays whole
    assert(splits(plain).length == 1)
  }

  test("a .gz member plans exactly one split, whatever the size rule says") {
    val gz = Util.scratch("split_plain_gz.fits.gz")
    Util.gzipFile(plain, gz)
    withConf("spark.sql.files.maxPartitionBytes" -> "1024",
      "spark.sql.files.openCostInBytes" -> "0") {
      assert(splits(gz).map(p => (p.rowStart, p.rowEnd)) == Seq((0L, nRows.toLong)))
      assert(digest(read(gz)) == digest(read(plain, Some(nRows.toLong))))
    }
  }

  test("a tiled table splits on tile boundaries under the size rule") {
    val ts = FitsTable.readSpec(tiled, 0).spec
      .asInstanceOf[FitsFormat.TiledTableSpec]
    assert(ts.nTiles == 21)
    withConf("spark.sql.files.maxPartitionBytes" -> "4096",
      "spark.sql.files.openCostInBytes" -> "0") {
      val ps = splits(tiled)
      assert(ps.length >= 2, s"expected several splits, got ${ps.length}")
      // ranges are TILE indices, so every cut is a tile boundary
      assertTiles(ps, ts.nTiles)
      val sizes = ps.map(p => p.rowEnd - p.rowStart)
      assert(sizes.max - sizes.min <= 1, s"tile counts differ by more than one: $sizes")
      assert(digest(read(tiled)) == digest(read(plain, Some(nRows.toLong))),
        "multi-split tiled read differs from the plain single-split read")
    }
  }

  test("rowsPerSplit still overrides the size rule") {
    withConf("spark.sql.files.maxPartitionBytes" -> "1024",
      "spark.sql.files.openCostInBytes" -> "0") {
      assert(splits(plain, Some(500)).map(p => (p.rowStart, p.rowEnd)) ==
        Seq((0L, 500L), (500L, 1000L), (1000L, 1003L)))
      // tiled: 120 logical rows round up to 3 tiles of 50
      assert(splits(tiled, Some(120)).map(p => (p.rowStart, p.rowEnd)) ==
        (0L until 21L by 3L).map(s => (s, s + 3)))
    }
  }

  test("many small files keep one split each (the multi-file glob shape)") {
    val files = (0 until 3).map { i =>
      val p = Util.scratch(s"split_small_$i.fits")
      FitsWriter.writeDataFrame(p, frame(40 + i), strLens = Map("s" -> 12))
      p
    }
    val schema = FitsTable.readSpec(files.head, 0).spec.schema
    val ps = FitsScan.splitsFor(files, 0, schema, None)
      .map(_.asInstanceOf[FitsInputPartition])
    assert(ps.map(p => (p.path, p.rowEnd - p.rowStart)).toSeq ==
      files.zipWithIndex.map { case (f, i) => (f, 40L + i) })
  }

  test("ops_mix FITS scans (a7, a18 on its sf0.01 tables) plan as under the fixed 128 MB target") {
    // the benchmark's operator mix reads these committed tables; every
    // FITS scan it reaches must keep the plan it had before split sizing
    val d = "perfbench/data/sf0.01"
    def fixedTargetSplits(path: String): Long = {
      val target = 128L * 1024 * 1024
      FitsTable.readSpec(path, 0).spec match {
        case ts: FitsFormat.TiledTableSpec =>
          val per = math.max(1L, target / math.max(1L, ts.tileLen * ts.zRowBytes))
          (ts.nTiles + per - 1) / per
        case s =>
          val per = math.max(1L, target / math.max(1, s.rowBytes))
          (s.nRows + per - 1) / per
      }
    }
    Seq(graft.ops.ScanOps.a7_fits_source, graft.ops.ScanOps.a18_fits_tiled_source)
      .foreach { q =>
        val scans = q.fn(spark, d).queryExecution.sparkPlan.collect {
          case b: BatchScanExec => b.inputPartitions.map(
            _.asInstanceOf[FitsInputPartition])
        }
        assert(scans.nonEmpty, "no FITS scan in the plan")
        scans.foreach { ps =>
          val path = ps.head.path
          assert(ps.length == fixedTargetSplits(path),
            s"$path: ${ps.length} splits, the fixed target planned ${fixedTargetSplits(path)}")
        }
      }
  }
}
