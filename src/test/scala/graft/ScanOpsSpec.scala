package graft

import graft.ops.ScanOps
import org.apache.spark.sql.functions._

class ScanOpsSpec extends SparkTestBase {

  test("a8 partition pruning reaches the scan (PartitionFilters)") {
    val df = ScanOps.a8_sink_partitioned.fn(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("1996"),
      s"partition filter not pushed:\n${plan.take(800)}")
    // only the 1996 partition's rows come back
    val years = df.select("o_year").distinct().collect().map(_.getInt(0)).toSeq
    assert(years == Seq(1996))
  }

  test("a9 bucketed join plans without a shuffle exchange") {
    ScanOps.a9_sink_bucketed.fn(spark, sfDir).count() // writes the tables
    // Disable broadcast so the sort-merge path is planned — the property
    // under test is that bucketing removes the SHUFFLE, which is what
    // matters when both sides are too big to broadcast.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val o = spark.table("graft_bkt.orders_b")
      val li = spark.table("graft_bkt.lineitem_b")
      val joined = li.join(o, li("l_orderkey") === o("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n${plan.take(1000)}")
      assert(plan.contains("Bucketed: true"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("a2 multifile union doubles row count") {
    assert(ScanOps.a2_scan_multifile_union.fn(spark, sfDir).count() ==
      2 * Tables.t(spark, sfDir, "region").count())
  }

  test("g4 intersectAll/exceptAll multiset variants behave") {
    import spark.implicits._
    val a = Seq(1, 1, 2, 3).toDF("x")
    val b = Seq(1, 2, 2).toDF("x")
    assert(a.intersectAll(b).collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    assert(a.exceptAll(b).collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 3))
  }

  test("a15 compaction: many files in, few files out, bytes unchanged") {
    ScanOps.a15_compact_files.fn(spark, sfDir).count() // runs the compaction
    val fragDir = ScanOps.a15FragDir(spark, sfDir)
    def partsAt(p: String) = new java.io.File(p)
      .listFiles().count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    val before = partsAt(fragDir)
    val after = partsAt(graft.Util.scratch("a15_compacted"))
    // Bounds derived from the data, not the fixture SF: repartition(64) may
    // skip empty partitions at tiny SFs, and maxRecordsPerFile=500000 splits
    // the 4 coalesced partitions into more files once orders outgrows ~2M
    // rows — the exact-64 / ≤4 constants only held at the gate SF.
    val rows = spark.read.parquet(fragDir).count()
    val perFile = graft.ops.ScanOps.CompactMaxRecordsPerFile
    val maxAfter = 4 * math.ceil(rows / (4.0 * perFile)).toInt
    assert(before >= 32, s"fragmentation fixture wrote only $before files")
    assert(after >= 1 && after <= maxAfter, s"compaction left $after files (max $maxAfter)")
    assert(after < before, s"compaction did not reduce file count ($before -> $after)")
  }

  test("a37 bloom fetch: footer blooms DROP row groups the no-bloom twin must read") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val (bloomDir, nobloomDir, keyDir) = ScanOps.a37BloomDirs(spark, sfDir)
    val k = spark.read.parquet(keyDir).head().getLong(0)
    // the scan node's numOutputRows counts rows surviving parquet-side
    // pruning (row groups + pages), BEFORE Spark's Filter node — the
    // direct receipt of what the footer bloom dropped
    def scanRows(dir: String): (Long, Long) = {
      val df = spark.read.parquet(dir).filter(col("l_orderkey") === k)
      // execute THIS QueryExecution (a .count() would plan its own and
      // leave these metrics at zero)
      val n = df.collect().length.toLong
      val scan = df.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case s: FileSourceScanExec => s }
        .getOrElse(fail("no FileSourceScanExec in the point-lookup plan"))
      (n, scan.metrics("numOutputRows").value)
    }
    // both footers carry what they claim: bloom present/absent
    def hasBloom(dir: String): Boolean = {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val f = new java.io.File(dir).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && f.length() > 1024)
        .minBy(_.getName) // skip empty-partition stubs (no row groups)
      val conf = new org.apache.hadoop.conf.Configuration()
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
      try {
        import scala.jdk.CollectionConverters._
        val block = r.getFooter.getBlocks.get(0)
        val col = block.getColumns.asScala
          .find(_.getPath.toDotString == "l_orderkey").get
        r.getBloomFilterDataReader(block).readBloomFilter(col) != null
      } finally r.close()
    }
    assert(hasBloom(bloomDir), "bloom table footer has no bloom filter")
    assert(!hasBloom(nobloomDir), "no-bloom twin unexpectedly carries a bloom")
    val (nBloom, scanBloom) = scanRows(bloomDir)
    val (nPlain, scanPlain) = scanRows(nobloomDir)
    assert(nBloom == nPlain && nBloom >= 1, "twins disagree on the result")
    // non-vacuous: the no-bloom twin reads past its matches (unsorted
    // layout, min/max useless), the bloom twin reads strictly less
    assert(scanPlain > nPlain,
      s"fixture vacuous: no-bloom scan already minimal ($scanPlain rows)")
    assert(scanBloom < scanPlain,
      s"bloom did not prune: scan rows $scanBloom vs $scanPlain")
  }

  test("a16 sorted layout: per-file key ranges are disjoint") {
    ScanOps.a16_sorted_layout.fn(spark, sfDir).count() // writes the layout
    val ranges = spark.read.parquet(graft.Util.scratch("a16_sorted"))
      .groupBy(input_file_name().as("f"))
      .agg(min("l_orderkey").as("lo"), max("l_orderkey").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length >= 2, "range partitioning produced a single file")
    // STRICT inequality: RangePartitioner keeps equal keys in one
    // partition, so a boundary key must never straddle two files (<=
    // would tolerate exactly the overlap min/max pruning suffers from)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"file ranges overlap: hi=$hi1 vs next lo=$lo2")
      case _ =>
    }
  }

  test("a21 z-order layout: per-file bounding boxes shrink in BOTH dims") {
    ScanOps.a21_zorder_layout.fn(spark, sfDir).count() // writes the layout
    def fileBoxes(dir: String): Seq[(Long, Long)] =
      spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg((max("l_orderkey") - min("l_orderkey")).as("oke"),
          (max("l_partkey") - min("l_partkey")).as("pke"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    // 1-D baseline: the a16 shape (range-partition + sort on orderkey
    // alone) over the SAME columns — prunes orderkey, but every file
    // spans ~the full partkey range
    val base = graft.Util.scratch("a21_baseline_sorted")
    Tables.t(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_partkey")
      .repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey", "l_linenumber")
      .write.mode("overwrite").parquet(base)
    val zb = fileBoxes(graft.Util.scratch("a21_zorder"))
    val bb = fileBoxes(base)
    assert(zb.size >= 4 && bb.size >= 4, s"too few files: z=${zb.size} base=${bb.size}")
    def mean(xs: Seq[Long]): Double = xs.sum.toDouble / xs.size
    val (zOk, zPk) = (mean(zb.map(_._1)), mean(zb.map(_._2)))
    val (bOk, bPk) = (mean(bb.map(_._1)), mean(bb.map(_._2)))
    // both dims must prune under z-order: mean per-file partkey extent is
    // well under the 1-D layout's (which is ~global), and the orderkey
    // extent still shrinks vs the GLOBAL span (z-order trades a little
    // single-key locality for pruning on both keys)
    val okGlobal = Tables.t(spark, sfDir, "lineitem")
      .agg((max("l_orderkey") - min("l_orderkey")).cast("long")).collect()(0).getLong(0)
    assert(zPk < 0.75 * bPk, s"partkey boxes did not shrink: z=$zPk base=$bPk")
    assert(zOk < 0.75 * okGlobal, s"orderkey boxes did not shrink: z=$zOk global=$okGlobal")
    assert(bOk < zOk, "sanity: 1-D sort should still win on its own key")
  }

  test("a22 quarantine captures exactly the planted bad rows; FAILFAST aborts") {
    val out = ScanOps.a22_csv_quarantine.fn(spark, sfDir).collect()
    val bad = out.filter(_.getBoolean(3))
    assert(bad.nonEmpty, "no quarantined rows — parser robustness untested")
    bad.foreach { r =>
      assert(r.getInt(0) % 5 == 0, s"good row quarantined: $r")
      assert(r.isNullAt(2), s"malformed field did not null out: $r")
      assert(r.getString(4).endsWith(",xx"), s"raw line not captured: $r")
    }
    out.filterNot(_.getBoolean(3)).foreach { r =>
      assert(!r.isNullAt(2) && r.isNullAt(4), s"good row damaged: $r")
    }
    // same file, FAILFAST: the load aborts loudly instead of quarantining
    // (NOTE: DROPMALFORMED in Spark 4 only drops structurally-broken rows,
    // not type-conversion failures — which is exactly why the quarantine
    // shape, not DROPMALFORMED, is the audit-safe ingest mode)
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    val thrown = intercept[Exception] {
      // .collect, not .count: CSV count() short-circuits without parsing
      // any columns, so a bare count never trips the parser in any mode
      spark.read.schema(schema).option("mode", "FAILFAST")
        .csv(graft.Util.scratch("a22_dirty_csv")).collect()
    }
    assert(thrown.getMessage != null)
  }

  test("a23 inventory walk: kinds in file order; truncation fails loudly") {
    ScanOps.a23_fits_header_info.fn(spark, sfDir).count() // writes fixtures
    val tbl = graft.Util.scratch("a23_nation.fits")
    val raf = new java.io.RandomAccessFile(tbl, "r")
    val hdus =
      try graft.fits.FitsFormat.listHdus(raf, raf.length()) finally raf.close()
    assert(hdus.size == 2 && !hdus(0).contains("XTENSION") &&
      hdus(1)("XTENSION").trim == "BINTABLE", s"walk wrong: ${hdus.map(_.keySet)}")
    // a file truncated INSIDE a data unit must throw, not read as a
    // shorter valid file (the listHdus contract)
    val full = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(tbl))
    val cut = java.util.Arrays.copyOf(full, full.length - 1440)
    val trunc = graft.Util.scratch("a23_truncated.fits")
    java.nio.file.Files.write(java.nio.file.Paths.get(trunc), cut)
    val raf2 = new java.io.RandomAccessFile(trunc, "r")
    try intercept[java.io.EOFException](
      graft.fits.FitsFormat.listHdus(raf2, raf2.length()))
    finally raf2.close()
    // ...and truncation inside a HEADER also throws (the walk must never
    // swallow a mid-header EOF as a clean end — the r5 review finding)
    val cutHdr = java.util.Arrays.copyOf(full, 2880 + 160) // partial 2nd header
    val truncH = graft.Util.scratch("a24_truncated_header.fits")
    java.nio.file.Files.write(java.nio.file.Paths.get(truncH), cutHdr)
    val raf3 = new java.io.RandomAccessFile(truncH, "r")
    try intercept[java.io.EOFException](
      graft.fits.FitsFormat.listHdus(raf3, raf3.length()))
    finally raf3.close()
    // idempotent re-stamp: a second addChecksums must REPLACE the cards,
    // not accumulate duplicates, and stay verification-green
    graft.fits.FitsChecksum.addChecksums(tbl)
    val re = graft.fits.FitsChecksum.verify(tbl)
    assert(re.forall { case (_, h, ds, hs) => h && ds && hs },
      s"re-stamped file failed verification: $re")
    val raf4 = new java.io.RandomAccessFile(tbl, "r")
    val cards2 =
      try graft.fits.FitsFormat.walkHdus(raf4, raf4.length()) finally raf4.close()
    // readHeader's map would hide duplicates — count raw DATASUM cards
    val raw = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(tbl))
    val nDatasumCards = raw.grouped(80).count(c =>
      new String(c.take(8), java.nio.charset.StandardCharsets.US_ASCII).trim == "DATASUM")
    assert(nDatasumCards == cards2.size,
      s"re-stamp accumulated duplicate cards: $nDatasumCards for ${cards2.size} HDUs")
  }

  test("a24 checksums: -0 invariant holds, flipped byte fails, reader unaffected") {
    ScanOps.a24_fits_checksum.fn(spark, sfDir).count() // writes + stamps
    val path = graft.Util.scratch("a24_nation.fits")
    val clean = graft.fits.FitsChecksum.verify(path)
    assert(clean.size == 2 && clean.forall { case (_, h, ds, hs) => h && ds && hs },
      s"clean file failed verification: $clean")
    // the checksummed file still reads byte-identically through the DSv2
    val viaFits = spark.read.format("fits").load(path)
    val src = Tables.t(spark, sfDir, "nation")
    assert(viaFits.exceptAll(src).isEmpty && src.exceptAll(viaFits).isEmpty)
    // a single flipped DATA byte must flip both verdicts of that HDU
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val tampered = graft.Util.scratch("a24_tampered.fits")
    // find HDU 1's data: after two headers + primary data (primary is
    // header-only here) — flip a byte deep in the tail instead of
    // hand-computing offsets: the LAST data block belongs to HDU 1
    bytes(bytes.length - 2880 / 2) = (bytes(bytes.length - 2880 / 2) ^ 0x55).toByte
    java.nio.file.Files.write(java.nio.file.Paths.get(tampered), bytes)
    val bad = graft.fits.FitsChecksum.verify(tampered)
    assert(bad.exists { case (_, _, ds, hs) => !ds || !hs },
      s"tampered file verified clean: $bad")
    // encode spans the full 32-bit range without excluded characters
    val excluded = ":;<=>?@[\\]^_`".toSet
    Seq(0L, 1L, 0xffffffffL, 0x12345678L, 0xdeadbeefL, 0x80000000L).foreach { v =>
      val e = graft.fits.FitsChecksum.encode(v)
      assert(e.length == 16 && e.forall(c => !excluded(c) && c >= '0'),
        s"encode($v) = '$e' has excluded chars")
    }
  }

  test("a14 ORC round-trip is lossless and the ORC scan pushes filters") {
    ScanOps.a14_orc_source.fn(spark, sfDir).count() // writes the ORC dir
    val orc = spark.read.orc(graft.Util.scratch("a14_lineitem_orc"))
    // filters/projections must reach the ORC reader like they do parquet
    val plan = orc.filter(col("l_quantity") > 48).select("l_orderkey")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_quantity"),
      s"ORC scan did not push the filter:\n${plan.take(800)}")
    assert(plan.contains("ReadSchema") && !plan.contains("l_returnflag"),
      "ORC scan did not prune columns")
    // losslessness vs the parquet source, including the double column
    val src = Tables.t(spark, sfDir, "lineitem").filter(col("l_quantity") > 45)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    assert(orc.exceptAll(src).isEmpty && src.exceptAll(orc).isEmpty)
  }

  test("tileSplits derives parallelism from the data: floor 8 small, grows with bytes") {
    import graft.fits.FitsImage.tileSplits
    // fixture geometry (64-px frames, 8-16 KiB decoded tiles): small
    // frames floor at min(totalTiles, 8); tiny files never over-split
    assert(tileSplits(3, 8192) == 3)
    assert(tileSplits(20, 8192) == 8)
    // the 64x-frame receipt (r9 #5's 'done' condition): sf0.1's 5,000-row
    // frame at 64x = 5,000 int16 + 5,000 float tiles -> splits derive
    // from decoded bytes and land well past the old hard-coded 8
    assert(tileSplits(10000, 16384) > 8)
    assert(tileSplits(10000, 16384) == (10000L * 16384 + (1 << 20) - 1) / (1 << 20))
    // production tiles (>= the 1 MiB target): one tile per task, and
    // never MORE splits than tiles — a tile is the indivisible unit
    assert(tileSplits(1000, 2L << 20) == 1000)
    // the local cap bounds task count
    assert(tileSplits(100000000L, 4L << 20) == 4096)
  }

  test("plain-raster readers derive splits from real headers: >8 at a 64x frame (r10 #3)") {
    // the a19 derivation path end to end: write a 64×-tall PLAIN image,
    // walk its headers the way the op does, and price the row unit —
    // the split count must clear the retired hard-coded 8
    val h64 = Tables.t(spark, sfDir, "documents").count() * 64
    val p = Util.scratch("a19_ladder64.fits")
    graft.fits.FitsWriter.writeImageFits(p, 64, h64)
    val rowUnitBytes = {
      val raf = new java.io.RandomAccessFile(p, "r")
      try {
        raf.seek(0)
        val b1 = graft.fits.FitsFormat.locateImage(raf, 0).rowBytes
        raf.seek(0)
        b1 + graft.fits.FitsFormat.locateImage(raf, 1).rowBytes
      } finally raf.close()
    }
    val splits = graft.fits.FitsImage.tileSplits(h64, rowUnitBytes)
    assert(splits > 8, s"64x frame still under-parallelized: $splits")
    // and the small fixture keeps the 8-task floor (no over-splitting)
    assert(graft.fits.FitsImage.tileSplits(h64 / 64, rowUnitBytes) == 8)
  }

  test("a36: the footprint catalog prunes FILES — only the covering frames are read") {
    import org.apache.spark.sql.functions._
    // run the gated op once so the fixture + catalog exist
    val out = graft.ops.ScanOps.a36_fits_wcs_mosaic.fn(spark, sfDir).collect()
    // the planted box crosses exactly the frame-0/frame-1 seam:
    // 16 rows from each, never frames 2/3
    assert(out.map(_.getLong(0)).distinct.sorted.toSeq == Seq(0L, 1L))
    assert(out.length == 32)
    // dec is continuous across the seam (one survey, two files): row
    // k of the union must sit exactly CDELT2 above row k-1
    val decs = out.sortBy(r => (r.getLong(0), r.getLong(1)))
      .map(_.getDouble(2))
    decs.sliding(2).foreach { case Array(a, b) =>
      assert(b - a == 0.00390625, s"seam gap: $a -> $b")
    }
    // the pruning predicate itself: the same catalog, three boxes —
    // the gate box covers 2 frames, a one-strip box covers 1, a box
    // past the survey's Dec extent covers 0 (the op would refuse)
    val dir = Util.scratch(s"mosaic_${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}")
    val cat = spark.read.parquet(s"$dir/catalog.parquet")
    def covering(lo: Double, hi: Double): Long =
      cat.filter(col("dec_min") <= hi && col("dec_max") >= lo).count()
    assert(covering(-10.0 + 48.0 / 256.0, -10.0 + 79.0 / 256.0) == 2)
    assert(covering(-10.0 + 200.0 / 256.0, -10.0 + 210.0 / 256.0) == 1)
    assert(covering(5.0, 6.0) == 0)
  }
}
