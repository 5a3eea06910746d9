package graft.fits

import java.nio.ByteBuffer
import java.util
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.util.SerializableConfiguration

/** FITS BINTABLE DataSource V2 (SURVEY §2 a7, §4.3).
  *
  * Spark-first design points:
  *  - Schema comes from the extension HEADER (driver-side, one footer-like
  *    read) — never inferred from data, matching the FITS model (§1.1).
  *  - Fixed record width ⇒ EXACT row-range splits: `planInputPartitions`
  *    cuts [0, NAXIS2) into near-equal ranges, so a single 100 GB BINTABLE
  *    parallelizes across executors with no scan overlap — the property
  *    parquet gets from row groups, FITS gets for free from NAXIS1. Split
  *    size follows Spark's file sources (`FilePartition.maxSplitBytes`):
  *    min(`spark.sql.files.maxPartitionBytes`, max(
  *    `spark.sql.files.openCostInBytes`, (Σ data bytes + files · openCost)
  *    / default parallelism)), so one large table is cut into one split per
  *    core and a file under openCost stays whole.
  *  - Column pruning is honored at the byte level: only requested columns
  *    are decoded (per-column fixed offsets), the rest of each record is
  *    skipped — SupportsPushDownRequiredColumns.
  *  - Columnar reads: a BINTABLE column sits at a constant stride, so the
  *    reader takes a block of at most 4096 rows (and 4 MiB) per
  *    `readFully` and decodes each required column from it straight into
  *    an on-heap column vector; tiled tables copy each tile's column-major
  *    cells into the vectors. Spark adds ColumnarToRow above the scan
  *    where rows are needed.
  *  - Conversion semantics (§1.2): big-endian decode, TSCAL/TZERO scaling,
  *    unsigned-idiom widening, TNULL→null, float NaN/Inf→null, trailing
  *    blank trim — i.e. the fits2db B-group applied at the source.
  *  - Observable: the scan publishes DSv2 custom metrics (bytes read, rows
  *    decoded, tiles decompressed, read+decode time timed per batch) into
  *    the BatchScan node's SQL metrics; a short read, a heap or tile
  *    descriptor out of range or a wrongly sized tile fails with the path,
  *    the extension number and the byte offset.
  *
  * Usage: `spark.read.format("fits").option("extnum", 0).load(path)`.
  */
class FitsDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "fits"

  private def extnum(options: CaseInsensitiveStringMap): Int =
    Option(options.get("extnum")).map(_.toInt).getOrElse(0)

  /** Multi-file loads (`load(p1, p2, …)` / the CLI's expanded globs) are
    * one scan over same-schema files — the reference's N-file append.
    */
  private def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    // Spark serializes multi-path loads as a JSON array — decode it as
    // JSON (jackson ships with Spark), not by splitting on ',' which
    // would shred any path containing a comma
    val fromPaths = Option(options.get("paths")).map { js =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      try mapper.readValue(js, classOf[Array[String]]).toSeq
      catch { case scala.util.control.NonFatal(e) =>
        throw new IllegalArgumentException(
          s"FITS source: cannot parse paths option '$js' as a JSON array", e)
      }
    }.getOrElse(Nil)
    val all = Option(options.get("path")).toSeq ++ fromPaths
    if (all.isEmpty) throw new IllegalArgumentException(
      "FITS source requires at least one path")
    all
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FitsTable.readSpec(FitsTable.firstMatching(paths(options)), extnum(options))
      .spec.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new FitsTable(paths(opts), extnum(opts))
  }

  override def supportsExternalMetadata(): Boolean = false
}

object FitsTable {

  /** Expands ONE pattern to concrete files, sorted for a stable
    * scan/offset order. A literal existing file short-circuits glob
    * interpretation, so names containing glob metacharacters
    * (`obs[1].fits`) load as-is instead of being read as character
    * classes.
    */
  def expandOne(pattern: String): Seq[String] = {
    val path = new Path(pattern)
    val fs = path.getFileSystem(driverHadoopConf())
    val literal =
      try { val st = fs.getFileStatus(path); if (st.isFile) Some(st) else None }
      catch { case _: java.io.FileNotFoundException => None }
    literal match {
      case Some(st) => Seq(st.getPath.toString)
      case None =>
        Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Nil)
          .filter(_.isFile).map(_.getPath.toString).sorted
    }
  }

  /** Per-pattern expansion concatenated in pattern order. Deliberately NOT
    * de-duplicated: `load(p, p)` scans the file twice — the reference's
    * N-file append semantics, where each listed input contributes once per
    * mention. (The streaming offset log de-dupes on its side, where
    * seen-set semantics are the contract.)
    */
  def expandGlobs(patterns: Seq[String]): Seq[String] =
    patterns.flatMap(expandOne)

  /** First concrete file of the pattern list (schema authority); clear
    * error when nothing matches yet — FITS headers carry the schema, so
    * an empty source directory cannot define a stream or a scan.
    */
  def firstMatching(patterns: Seq[String]): String =
    expandGlobs(patterns).headOption.getOrElse(throw new IllegalArgumentException(
      s"FITS source: no files match ${patterns.mkString(", ")} " +
        "(at least one must exist to define the schema)"))
  // DSv2 calls inferSchema and then getTable, each needing the header —
  // memoize ONE entry per (path, extnum), validated by a (size, mtime)
  // fingerprint: keying on path alone served a stale spec after an
  // in-place overwrite in the same session (splits planned from the old
  // nRows/dataStart ⇒ wrong offsets or a mid-scan EOF), while keying on
  // (path, …, size, mtime) accumulated every historical version in a
  // long-lived driver. size+mtime is the same freshness fingerprint
  // Spark's file sources use; a same-size rewrite inside one mtime tick
  // is below its resolution for them and for us.
  private val specCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int), Header]()

  /** One cached header read. Besides the spec it keeps what split planning
    * needs, taken from the same `getFileStatus`: the file length (for the
    * truncation check) and the data unit size, NAXIS1·NAXIS2 + PCOUNT (for
    * split sizing; for a tiled table this includes the compressed heap).
    */
  private[fits] final case class Header(len: Long, mtime: Long,
      swo: FitsSpecWithOffset, dataBytes: Long)

  /** Gzipped members are read through a decompressing stream; offsets in
    * the spec are positions in the DECOMPRESSED byte stream (locateTable
    * counts logical FITS blocks, so this falls out for free).
    */
  def isGzip(path: String): Boolean = path.endsWith(".gz")

  /** Driver-side header read: spec + absolute data offset. */
  def readSpec(path: String, extnum: Int): FitsSpecWithOffset =
    header(path, extnum).swo

  private[fits] def header(path: String, extnum: Int): Header = {
    val p = new Path(path)
    val fs = p.getFileSystem(driverHadoopConf())
    val st = fs.getFileStatus(p)
    specCache.compute((path, extnum), { (_, old) =>
      if (old != null && old.len == st.getLen &&
        old.mtime == st.getModificationTime) old
      else {
        val raw = fs.open(p)
        try {
          // header walk is strictly sequential (readFully + skipBytes), so a
          // gzip stream serves it as-is — no random access until row decode
          val in: java.io.DataInput =
            if (isGzip(path))
              new java.io.DataInputStream(new java.util.zip.GZIPInputStream(raw))
            else raw
          val (cards, dataStart) = FitsFormat.locateTable(in, extnum)
          Header(st.getLen, st.getModificationTime,
            FitsSpecWithOffset(FitsFormat.anySpec(cards), dataStart),
            FitsFormat.dataUnitBytes(cards))
        } finally raw.close()
      }
    })
  }

  /** The session's Hadoop conf (spark.hadoop.*, core-site) — a bare
    * `new Configuration()` would miss credentials/filesystem settings.
    */
  def driverHadoopConf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())
}

final case class FitsSpecWithOffset(spec: FitsFormat.HduSpec, dataStart: Long)

class FitsTable(paths: Seq[String], extnum: Int) extends Table with SupportsRead {
  // Batch file set is FROZEN here (table construction = load() time), the
  // way Spark's file sources freeze their InMemoryFileIndex: every action
  // on the resulting DataFrame — both scan nodes of a self-join included —
  // sees the same snapshot even while new files land. The micro-batch
  // stream ignores the snapshot and re-expands per trigger by design.
  private lazy val snapshot: Seq[String] = FitsTable.expandGlobs(paths)
  // schema authority = first matching file; every other file must match
  // the schema at plan time
  private lazy val specWithOffset =
    FitsTable.readSpec(snapshot.headOption.getOrElse(
      FitsTable.firstMatching(paths)), extnum)

  override def name(): String =
    if (paths.length == 1) s"fits:${paths.head}#$extnum"
    else s"fits:${paths.head}(+${paths.length - 1})#$extnum"
  override def schema(): StructType = specWithOffset.spec.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FitsScanBuilder(paths, snapshot, extnum, specWithOffset,
      Option(options.get("rowspersplit")).map(_.toLong))
}

class FitsScanBuilder(paths: Seq[String], snapshot: Seq[String], extnum: Int,
    swo: FitsSpecWithOffset, rowsPerSplit: Option[Long])
  extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var required: StructType = swo.spec.schema

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // Prune at COLUMN granularity only: Catalyst may hand us nested-pruned
    // struct types (complex C/M columns), but the reader always emits the
    // full (re, im) struct — reporting the pruned shape while emitting the
    // full row would silently misalign field ordinals. Look each requested
    // name up in the declared spec and keep its full type.
    val declared = swo.spec.schema
    required = StructType(requiredSchema.fieldNames.flatMap(n =>
      declared.fields.find(_.name == n)).toIndexedSeq)
  }

  override def build(): Scan =
    new FitsScan(paths, snapshot, extnum, swo, required, rowsPerSplit)
}

object FitsScan {
  /** Row-range splits per file; each split carries its file's spec (specs
    * may differ in widths — e.g. 16A vs 25A — as long as the Spark schemas
    * agree, which is required here against `firstSchema`). Shared by the
    * batch plan and the micro-batch stream's per-trigger plan.
    *
    * Each non-gzip file is cut into ceil(dataBytes / `maxSplitBytes`)
    * near-equal ranges; `rowsPerSplitOpt` overrides that with ranges of a
    * fixed row count. Tiled tables split on TILE boundaries (each tile
    * decompresses independently): rowStart/rowEnd are TILE indices there,
    * the reader expands each stored row to its tileLen logical rows, and
    * `rowsPerSplitOpt` counts LOGICAL rows, rounded up to whole tiles.
    * gzip is not splittable (same rule as every gzip source in Spark): one
    * partition per .gz member, however many rows it holds.
    */
  def splitsFor(files: Seq[String], extnum: Int,
      firstSchema: StructType, rowsPerSplitOpt: Option[Long]): Array[InputPartition] = {
    val headers = files.map { p =>
      val h = FitsTable.header(p, extnum)
      require(h.swo.spec.schema == firstSchema,
        s"FITS multi-file load: '$p' decodes to ${h.swo.spec.schema.simpleString}, " +
          s"but the source schema is ${firstSchema.simpleString}")
      // a short file would otherwise surface as a bare EOFException in
      // whichever task's range crosses the cut; gzip members are measured
      // compressed, so their length says nothing about the data unit
      val required = h.swo.dataStart + h.dataBytes
      if (!FitsTable.isGzip(p) && h.len < required)
        throw new IllegalArgumentException(
          s"FITS file '$p' is truncated: table extension #$extnum needs " +
            s"$required bytes (data unit ${h.dataBytes} B at offset " +
            s"${h.swo.dataStart}), but the file has ${h.len}")
      (p, h)
    }
    val maxSplit = maxSplitBytes(headers.map(_._2.dataBytes))
    headers.toArray.flatMap { case (p, h) =>
      val (units, unitsPerSplitOpt) = h.swo.spec match {
        case ts: FitsFormat.TiledTableSpec =>
          (ts.nTiles, rowsPerSplitOpt.map(r => ceilDiv(r, ts.tileLen)))
        case spec => (spec.nRows, rowsPerSplitOpt)
      }
      val bounds: Seq[Long] =
        if (units <= 0) Nil
        else if (FitsTable.isGzip(p)) Seq(0L, units)
        else unitsPerSplitOpt match {
          case Some(per) =>
            val step = math.max(1L, per)
            (0L until units by step) :+ units
          case None =>
            // near-equal: the first (units % n) ranges take one extra unit
            val n = math.min(units, math.max(1L, ceilDiv(h.dataBytes, maxSplit)))
            (0L to n).map(i => (units / n) * i + math.min(i, units % n))
        }
      bounds.sliding(2).collect { case Seq(a, b) =>
        FitsInputPartition(p, h.swo, a, b, extnum, h.dataBytes): InputPartition
      }.toArray
    }
  }

  private def ceilDiv(a: Long, b: Long): Long = (a + b - 1) / b

  /** Spark's `FilePartition.maxSplitBytes`, with each file's data unit in
    * place of its length: files under `openCostInBytes` stay whole, and
    * the bytes are otherwise spread over the default parallelism, capped
    * at `maxPartitionBytes`.
    */
  private def maxSplitBytes(dataBytes: Seq[Long]): Long = {
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val openCost = conf.filesOpenCostInBytes
    val cores = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.defaultParallelism).getOrElse(1)
    val bytesPerCore = dataBytes.map(_ + openCost).sum / cores
    math.min(conf.filesMaxPartitionBytes, math.max(openCost, bytesPerCore))
  }

  /** The session's Hadoop conf, broadcast once for every task of a scan
    * (a `Configuration` is not serializable), as Spark's file sources do.
    */
  private[fits] def broadcastHadoopConf(): Broadcast[SerializableConfiguration] =
    org.apache.spark.sql.SparkSession.active.sparkContext.broadcast(
      new SerializableConfiguration(new Configuration(FitsTable.driverHadoopConf())))
}

class FitsScan(patterns: Seq[String], snapshot: Seq[String], extnum: Int,
    swo: FitsSpecWithOffset, required: StructType,
    rowsPerSplitOpt: Option[Long] = None)
  extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new FitsMicroBatchStream(patterns, extnum, swo.spec.schema, required,
      rowsPerSplitOpt, checkpointLocation)
  override def description(): String =
    s"FitsScan(${patterns.mkString(",")}, cols=${required.fieldNames.mkString(",")})"
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.SUPPORTED
  override def supportedCustomMetrics(): Array[CustomMetric] = FitsMetrics.supported

  override def planInputPartitions(): Array[InputPartition] = {
    // plan over the table's FROZEN snapshot — no re-listing per execution
    val splits = FitsScan.splitsFor(snapshot, extnum,
      swo.spec.schema, rowsPerSplitOpt)
    // 0-row fallback must name a CONCRETE file (patterns may be globs) —
    // the reader opens it even for an empty row range
    if (splits.isEmpty)
      Array(FitsInputPartition(snapshot.headOption.getOrElse(
        FitsTable.firstMatching(patterns)), swo, 0, 0, extnum, 0))
    else splits
  }

  // one broadcast per scan, reused if the plan runs again
  private lazy val hadoopConf = FitsScan.broadcastHadoopConf()
  override def createReaderFactory(): PartitionReaderFactory =
    new FitsReaderFactory(required, hadoopConf)
}

/** Micro-batch FITS stream — the nightly-drop ingest shape: files land in
  * a directory (or any glob set) and each trigger processes exactly the
  * files not seen before.
  *
  * Offset design (the FileStreamSource pattern): the offset in Spark's
  * WAL is just a batch COUNT; the files themselves go to an append-only
  * seen-file log under `<checkpoint>/fits-seen/<batchIdx>` (one entry per
  * trigger that found new files, atomic tmp+rename write). Consequences:
  *  - offsets stay O(1) in the WAL instead of re-serializing the full
  *    cumulative file list every trigger (no quadratic checkpoint);
  *  - the seen-set is persistent and MONOTONE: a processed file that
  *    transiently vanishes from one glob listing (eventual-consistency
  *    hiccup, replace-by-rename) and reappears later is still in the log,
  *    so it is never re-ingested as "fresh";
  *  - restart replay is deterministic — `planInputPartitions(a, b)` reads
  *    logged batches [a, b), never a live listing.
  * Per-batch planning reuses the batch reader's per-file row-range splits,
  * so a single huge new BINTABLE still parallelizes inside one micro-batch.
  */
class FitsMicroBatchStream(patterns: Seq[String], extnum: Int,
    firstSchema: StructType, required: StructType,
    rowsPerSplitOpt: Option[Long], checkpointLocation: String)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {

  import org.apache.spark.sql.connector.read.streaming.Offset

  private case class LogOffset(n: Long) extends Offset {
    override def json(): String = n.toString
  }

  private val logDir = new Path(checkpointLocation, "fits-seen")
  private val fs = logDir.getFileSystem(FitsTable.driverHadoopConf())

  // in-memory mirror of the log: batches(i) = files first seen at entry i.
  // Loaded once at construction (the restart path); latestOffset appends.
  private val batches = scala.collection.mutable.ArrayBuffer[Seq[String]]()
  private val seen = scala.collection.mutable.HashSet[String]()
  locally {
    if (fs.exists(logDir)) {
      Iterator.from(0).map(i => new Path(logDir, i.toString))
        .takeWhile(fs.exists).foreach { p =>
          val files = readLogEntry(p)
          batches += files
          seen ++= files
        }
    } else fs.mkdirs(logDir)
  }

  private def readLogEntry(p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Atomic append of entry `i`; if a crashed previous run already wrote
    * it (log write landed, WAL commit did not), adopt the existing entry
    * so replay stays deterministic.
    */
  private def writeLogEntry(i: Int, files: Seq[String]): Seq[String] = {
    val target = new Path(logDir, i.toString)
    if (fs.exists(target)) return readLogEntry(target)
    val tmp = new Path(logDir, s".$i.tmp")
    val out = fs.create(tmp, true)
    try out.write((files.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      require(fs.exists(target), s"cannot write FITS seen-log entry $target")
      return readLogEntry(target)
    }
    files
  }

  override def initialOffset(): Offset = LogOffset(0)

  override def latestOffset(): Offset = {
    val fresh = FitsTable.expandGlobs(patterns).distinct.filterNot(seen)
    if (fresh.nonEmpty) {
      val adopted = writeLogEntry(batches.length, fresh)
      batches += adopted
      seen ++= adopted
    }
    LogOffset(batches.length)
  }

  override def deserializeOffset(json: String): Offset =
    LogOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val a = start.asInstanceOf[LogOffset].n.toInt
    val b = end.asInstanceOf[LogOffset].n.toInt
    val files = (a until b).flatMap { i =>
      if (i < batches.length) batches(i)
      else readLogEntry(new Path(logDir, i.toString))
    }
    FitsScan.splitsFor(files, extnum, firstSchema, rowsPerSplitOpt)
  }

  private lazy val hadoopConf = FitsScan.broadcastHadoopConf()
  override def createReaderFactory(): PartitionReaderFactory =
    new FitsReaderFactory(required, hadoopConf)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One split: rows [rowStart, rowEnd) of table extension `extnum` (TILE
  * indices for a tiled table), plus the file's data unit size, which
  * bounds every heap descriptor the reader follows.
  */
final case class FitsInputPartition(path: String, swo: FitsSpecWithOffset,
    rowStart: Long, rowEnd: Long, extnum: Int, dataBytes: Long) extends InputPartition

class FitsReaderFactory(required: StructType,
    hadoopConf: Broadcast[SerializableConfiguration]) extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = true
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("the FITS source reads columnar batches only")
  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    new FitsPartitionReader(partition.asInstanceOf[FitsInputPartition], required,
      hadoopConf.value.value)
}

/** The FITS scan's DSv2 custom metrics, summed over tasks. */
object FitsMetrics {
  val BytesRead = "bytesRead"
  val RowsDecoded = "rowsDecoded"
  val TilesDecompressed = "tilesDecompressed"
  val DecodeTime = "decodeTime"

  def supported: Array[CustomMetric] = Array(new FitsBytesReadMetric,
    new FitsRowsDecodedMetric, new FitsTilesDecompressedMetric, new FitsDecodeTimeMetric)

  private[fits] def task(n: String, v: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = n
    override def value(): Long = v
  }
}

// Spark instantiates these by class name on the driver: top level, no-arg.
abstract class FitsSumMetric(n: String, d: String) extends CustomSumMetric {
  override def name(): String = n
  override def description(): String = d
}
class FitsBytesReadMetric extends FitsSumMetric(FitsMetrics.BytesRead, "FITS bytes read")
class FitsRowsDecodedMetric extends FitsSumMetric(FitsMetrics.RowsDecoded, "FITS rows decoded")
class FitsTilesDecompressedMetric
  extends FitsSumMetric(FitsMetrics.TilesDecompressed, "FITS tiles decompressed")
/** Task values are nanoseconds, timed per batch; shown as milliseconds. */
class FitsDecodeTimeMetric extends CustomMetric {
  override def name(): String = FitsMetrics.DecodeTime
  override def description(): String = "FITS read and decode time (ms)"
  override def aggregateTaskMetrics(taskMetrics: Array[Long]): String =
    (taskMetrics.sum / 1000000L).toString
}

object FitsPartitionReader {
  /** Rows per batch, and the cap on one plain block's bytes: a block is
    * read with one `readFully` and decoded column by column.
    */
  val BatchRows = 4096
  val BlockBytes: Int = 4 << 20
}

/** Reads one split into a reused `ColumnarBatch` of on-heap vectors.
  *
  * A plain BINTABLE or ASCII TABLE split is read a block of rows at a time
  * (at most `BatchRows` rows and `BlockBytes` bytes, one `readFully` each);
  * each required column is then decoded from the block at its constant
  * stride straight into its vector. A tiled table decompresses each tile's
  * required cells, which are already column-major, and copies them into
  * the vectors across tile boundaries. Heap (P/Q) cells and tile cells
  * are positioned reads bounded by the data unit: a descriptor outside
  * it, a short read or a cell that does not decompress to its size fails
  * with the path, the extension and the byte offset.
  */
class FitsPartitionReader(part: FitsInputPartition, required: StructType,
    hadoopConf: Configuration) extends PartitionReader[ColumnarBatch] {
  import FitsFormat.ColSpec
  import FitsPartitionReader._

  private val path = part.path
  private val swo = part.swo
  private val spec = swo.spec
  private val rowBytes = spec.rowBytes
  private val colNames: Seq[String] = spec match {
    case b: FitsFormat.TableSpec => b.cols.map(_.name)
    case t: FitsFormat.TiledTableSpec => t.cols.map(_.name)
    case a: FitsFormat.AsciiTableSpec => a.cols.map(_.name)
  }
  // Indices (into the full column list) of the requested columns, in
  // requested order — only these are decoded.
  private val colIdx: Array[Int] =
    required.fieldNames.map(n => colNames.indexWhere(_ == n))

  private val p = new Path(path)
  private val fs = p.getFileSystem(hadoopConf)

  /** Row bytes come sequentially; heap (P/Q) cells by positioned read. */
  private trait ByteSrc {
    def readFully(b: Array[Byte], off: Int, len: Int): Unit
    def readAt(pos: Long, b: Array[Byte], off: Int, len: Int): Unit
    def close(): Unit
  }

  /** Plain file: seekable stream + a second lazily-opened handle for heap
    * reads, so fixed-width-only scans pay nothing for it. Heap reads are
    * `seek` + `readFully` on that handle: a positioned `readFully(pos, …)`
    * on the local checksummed filesystem opens a new stream per call.
    */
  private final class FileSrc extends ByteSrc {
    private val in = fs.open(p)
    in.seek(swo.dataStart + part.rowStart * rowBytes)
    private var heapInOpt: Option[org.apache.hadoop.fs.FSDataInputStream] = None
    def readFully(b: Array[Byte], off: Int, len: Int): Unit = in.readFully(b, off, len)
    def readAt(pos: Long, b: Array[Byte], off: Int, len: Int): Unit = {
      val h = heapInOpt.getOrElse {
        val x = fs.open(p); heapInOpt = Some(x); x
      }
      h.seek(pos)
      h.readFully(b, off, len)
    }
    def close(): Unit = {
      in.close()
      heapInOpt.foreach(h => try h.close() catch { case _: Throwable => () })
    }
  }

  /** Gzipped member: not seekable, so the whole member is decompressed
    * once into memory and served from the array (positions are logical
    * decompressed offsets, which is what the spec carries). Memory is
    * bounded by the decompressed file size — acceptable because planning
    * gives each .gz member exactly ONE partition; the splittable paths
    * for big tables are the uncompressed layout and the TILED layout
    * (ZTABLE=T, the fpack table shape — compressed cells inside an
    * ordinary BINTABLE), which splits on tile boundaries: see
    * TiledTableSpec and the tiled reader path above.
    */
  private final class GzipSrc extends ByteSrc {
    // LAZY on both paths (r4 review): sequential row reads STREAM through
    // the decompressor — a LIMIT 1 or fixed-width-only scan never holds
    // the member in memory — and the whole-member byte array materializes
    // only when a heap (P/Q descriptor or tile blob) readAt occurs, since
    // gzip cannot seek backwards.
    private var seqOpt: Option[java.io.DataInputStream] = None
    private def seq: java.io.DataInputStream = seqOpt.getOrElse {
      val d = new java.io.DataInputStream(
        new java.util.zip.GZIPInputStream(fs.open(p)))
      d.skipNBytes(swo.dataStart + part.rowStart * rowBytes)
      seqOpt = Some(d)
      d
    }
    private var heapBytes: Array[Byte] = _
    private def materialize(): Array[Byte] = {
      val s = new java.util.zip.GZIPInputStream(fs.open(p))
      try {
        val out = new java.io.ByteArrayOutputStream()
        val b = new Array[Byte](1 << 16)
        var total = 0L
        var n = s.read(b)
        while (n >= 0) {
          if (n > 0) {
            total += n
            // JVM arrays cap near 2^31 bytes: fail with the remedy instead
            // of an opaque OutOfMemoryError mid-scan
            if (total > Int.MaxValue - 16)
              throw new UnsupportedOperationException(
                s"gzipped FITS member $path decompresses past ${Int.MaxValue - 16} " +
                  "bytes (JVM array limit); store tables this large uncompressed " +
                  "or tiled — both also restore splittable scans")
            out.write(b, 0, n)
          }
          n = s.read(b)
        }
        out.toByteArray
      } finally s.close()
    }
    def readFully(b: Array[Byte], off: Int, len: Int): Unit = seq.readFully(b, off, len)
    def readAt(at: Long, b: Array[Byte], off: Int, len: Int): Unit = {
      if (heapBytes == null) heapBytes = materialize()
      if (at + len > heapBytes.length)
        throw new java.io.EOFException(s"gzip FITS heap read past end at $at")
      System.arraycopy(heapBytes, at.toInt, b, off, len)
    }
    def close(): Unit =
      seqOpt.foreach(d => try d.close() catch { case _: Throwable => () })
  }

  private val src: ByteSrc =
    if (FitsTable.isGzip(path)) new GzipSrc else new FileSrc
  private val theap: Long = spec match {
    case b: FitsFormat.TableSpec => b.theap
    case t: FitsFormat.TiledTableSpec => t.theap
    case _ => 0L
  }
  private val heapStart = swo.dataStart + theap
  private val heapSize = part.dataBytes - theap

  // rows this split yields, which bounds the batch for small splits
  private val batchRows: Int = {
    val (rows, cap) = spec match {
      case ts: FitsFormat.TiledTableSpec =>
        (math.min(part.rowEnd * ts.tileLen, ts.zRows) - part.rowStart * ts.tileLen,
          BatchRows)
      case _ =>
        (part.rowEnd - part.rowStart,
          math.min(BatchRows, BlockBytes / math.max(1, rowBytes)))
    }
    math.max(1L, math.min(cap.toLong, rows)).toInt
  }
  // a plain block of batchRows records, or one tiled table's stored record
  private val block = new Array[Byte](spec match {
    case _: FitsFormat.TiledTableSpec => rowBytes
    case _ => batchRows * rowBytes
  })
  private val blockBuf = ByteBuffer.wrap(block) // big-endian per FITS
  private val vectors = OnHeapColumnVector.allocateColumns(batchRows, required)
  private val batch = new ColumnarBatch(vectors.map(v => v: ColumnVector))
  private var row = part.rowStart // next record to read: a row, or a tile

  private var bytesRead = 0L
  private var rowsDecoded = 0L
  private var tilesDecompressed = 0L
  private var decodeNanos = 0L

  override def next(): Boolean = {
    val t0 = System.nanoTime()
    vectors.foreach(_.reset())
    val n = spec match {
      case ts: FitsFormat.TiledTableSpec => fillTiled(ts)
      case _ => fillBlock()
    }
    batch.setNumRows(n)
    rowsDecoded += n
    decodeNanos += System.nanoTime() - t0
    n > 0
  }

  override def get(): ColumnarBatch = batch

  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    FitsMetrics.task(FitsMetrics.BytesRead, bytesRead),
    FitsMetrics.task(FitsMetrics.RowsDecoded, rowsDecoded),
    FitsMetrics.task(FitsMetrics.TilesDecompressed, tilesDecompressed),
    FitsMetrics.task(FitsMetrics.DecodeTime, decodeNanos))

  override def close(): Unit = try src.close() finally batch.close()

  private val unit = FitsFormat.DataUnit(path, s"table extension #${part.extnum}")
  import unit.{corrupt, reading}

  /** `len` record bytes into `block`, from the sequential stream. */
  private def readBlock(len: Int): Unit = {
    reading(s"short read of $len record bytes (file truncated?)",
      swo.dataStart + row * rowBytes)(src.readFully(block, 0, len))
    bytesRead += len
  }

  /** `len` heap bytes at heap offset `off`, after checking that a
    * descriptor read from `descAt` stays inside the heap.
    */
  private def readHeap(off: Long, len: Long, descAt: Long, what: String): Array[Byte] = {
    if (len < 0 || off < 0 || len > Int.MaxValue - 8 || off + len > heapSize)
      throw corrupt(s"$what: descriptor out of range ($len bytes at heap offset $off, " +
        s"heap of $heapSize bytes)", descAt)
    val cell = new Array[Byte](len.toInt)
    if (len > 0) {
      reading(s"$what: short heap read of $len bytes", heapStart + off)(
        src.readAt(heapStart + off, cell, 0, len.toInt))
      bytesRead += len
    }
    cell
  }

  // --------------------------------------------------------- plain blocks

  private def fillBlock(): Int = {
    val n = math.min(batchRows.toLong, part.rowEnd - row).toInt
    if (n <= 0) return 0
    readBlock(n * rowBytes)
    spec match {
      case b: FitsFormat.TableSpec =>
        var k = 0
        while (k < colIdx.length) {
          val ci = colIdx(k)
          val c = b.cols(ci)
          if (c.varDesc.isDefined) putVarCells(c, vectors(k), b.offsets(ci), n)
          else putCells(c, vectors(k), 0, blockBuf, b.offsets(ci), rowBytes, n)
          k += 1
        }
      case a: FitsFormat.AsciiTableSpec => putAsciiRows(a, n)
      case other => throw new IllegalStateException(s"not a plain table: $other")
    }
    row += n
    n
  }

  /** ASCII TABLE records: fixed character fields, parsed per TFORM/TBCOL. */
  private def putAsciiRows(a: FitsFormat.AsciiTableSpec, n: Int): Unit =
    if (colIdx.nonEmpty) {
      var j = 0
      while (j < n) {
        val rowChars = new String(block, j * rowBytes, rowBytes,
          java.nio.charset.StandardCharsets.US_ASCII)
        var k = 0
        while (k < colIdx.length) {
          val v = vectors(k)
          FitsFormat.decodeAsciiField(rowChars, a.cols(colIdx(k))) match {
            case null => v.putNull(j)
            case s: String => v.putByteArray(j, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            case l: Long => v.putLong(j, l)
            case d: Double => v.putDouble(j, d)
          }
          k += 1
        }
        j += 1
      }
    }

  /** Variable-length cells: a (count, offset) descriptor in each record,
    * the data in the heap (FITS 4.0 §7.3.5).
    */
  private def putVarCells(c: ColSpec, v: WritableColumnVector, colOff: Int, n: Int): Unit = {
    var elems = 0 // next free slot of the array column's element vector
    var j = 0
    while (j < n) {
      val at = j * rowBytes + colOff
      val (cnt, off) = c.varDesc.get match {
        case 'P' => (blockBuf.getInt(at).toLong, blockBuf.getInt(at + 4).toLong)
        case _ => (blockBuf.getLong(at), blockBuf.getLong(at + 8))
      }
      val len =
        if (cnt < 0 || cnt > Int.MaxValue) -1L
        else if (c.code == 'X') (cnt + 7) / 8 // var-length bit array: cnt BITS
        else cnt * c.elemBytes
      val cell = readHeap(off, len, swo.dataStart + (row + j) * rowBytes + colOff,
        s"variable-length cell of $cnt elements in ${c.name}")
      c.code match {
        case 'X' => v.putByteArray(j, cell) // packed bits as binary
        case 'A' => putAscii(v, j, cell, 0, cell.length)
        case _ =>
          val count = cnt.toInt
          val leaf = v.arrayData()
          leaf.reserve(elems + count)
          putElems(c, leaf, elems, ByteBuffer.wrap(cell), 0, c.elemBytes, count)
          v.putArray(j, elems, count)
          elems += count
      }
      j += 1
    }
  }

  // ---------------------------------------------------------- tiled path

  private var tileRows = 0 // logical rows of the loaded tile
  private var tilePos = 0  // its next row to copy out
  /** Decompressed cells of the loaded tile, one per required column —
    * column pruning means unrequested columns are never decompressed.
    */
  private val tileCells = new Array[ByteBuffer](colIdx.length)

  private def fillTiled(ts: FitsFormat.TiledTableSpec): Int = {
    var filled = 0
    while (filled < batchRows) {
      if (tilePos >= tileRows) {
        if (row >= part.rowEnd) return filled
        loadTile(ts)
        row += 1
      } else {
        val m = math.min(batchRows - filled, tileRows - tilePos)
        var k = 0
        while (k < colIdx.length) {
          val c = ts.cols(colIdx(k))
          // zero-repeat ('0E') column: the cell stores no data; the value
          // is NULL per row
          if (c.repeat == 0) vectors(k).putNulls(filled, m)
          else {
            val stride = c.repeat * c.elemBytes
            putCells(c, vectors(k), filled, tileCells(k), tilePos * stride, stride, m)
          }
          k += 1
        }
        filled += m
        tilePos += m
      }
    }
    filled
  }

  /** Reads tile `row`'s stored record (one 1PB descriptor per column) and
    * decompresses its required cells.
    */
  private def loadTile(ts: FitsFormat.TiledTableSpec): Unit = {
    val recordAt = swo.dataStart + row * rowBytes
    readBlock(rowBytes)
    tileRows = ts.rowsInTile(row)
    tilePos = 0
    if (colIdx.nonEmpty) tilesDecompressed += 1
    var k = 0
    while (k < colIdx.length) {
      val ci = colIdx(k)
      val c = ts.cols(ci)
      if (c.repeat > 0) { // a zero-repeat cell has nothing to decompress
        val off = blockBuf.getInt(ci * 8 + 4).toLong
        val what = s"tile $row column ${c.name}"
        val blob = readHeap(off, blockBuf.getInt(ci * 8).toLong, recordAt + ci * 8, what)
        val expected = tileRows * c.repeat * c.elemBytes
        val raw =
          try TileCodec.decodeCell(ts.zctyp(ci), blob, tileRows * c.repeat, c.elemBytes)
          catch { case scala.util.control.NonFatal(e) =>
            throw corrupt(s"$what: ${ts.zctyp(ci)} cell of ${blob.length} bytes does " +
              s"not decode", heapStart + off, e)
          }
        if (raw.length != expected)
          throw corrupt(s"$what: ${ts.zctyp(ci)} cell decompressed to ${raw.length} " +
            s"bytes, expected $expected", heapStart + off)
        tileCells(k) = ByteBuffer.wrap(raw)
      }
      k += 1
    }
  }

  // ------------------------------------------------------------ decoders

  /** `n` fixed-width cells of `c` into rows `dst…` of `v`; cell i starts
    * at `src[base + i·stride]` (a record block, or a tile's column-major
    * cell).
    */
  private def putCells(c: ColSpec, v: WritableColumnVector, dst: Int,
      src: ByteBuffer, base: Int, stride: Int, n: Int): Unit = {
    var i = 0
    c.code match {
      case 'A' =>
        while (i < n) { putAscii(v, dst + i, src.array, base + i * stride, c.repeat); i += 1 }
      case 'X' =>
        while (i < n) { v.putByteArray(dst + i, src.array, base + i * stride, c.byteWidth); i += 1 }
      // zero-repeat numeric columns ('0E' — legal per FITS 4.0 §7.3.1)
      // occupy no record bytes: reading at the shared offset would return
      // the NEXT column's bytes reinterpreted — the cell has no data, so
      // the value is NULL
      case _ if c.repeat == 0 => v.putNulls(dst, n)
      case _ if c.repeat > 1 =>
        // TDIM (d1,…,dn) nests n array levels with dn outermost; FITS
        // cells are column-major flat (first axis fastest), so the leaf
        // elements are the cell's elements in file order
        val shape = c.tdim match {
          case Some(dims) if dims.length >= 2 => dims.reverse
          case _ => Seq(c.repeat)
        }
        var level = v
        var start = dst
        var count = n
        shape.foreach { d =>
          var g = 0
          while (g < count) { level.putArray(start + g, (start + g) * d, d); g += 1 }
          start *= d
          count *= d
          level = level.arrayData()
          level.reserve(start + count)
        }
        while (i < n) {
          putElems(c, level, (dst + i) * c.repeat, src, base + i * stride, c.elemBytes, c.repeat)
          i += 1
        }
      case _ => putElems(c, v, dst, src, base, stride, n)
    }
  }

  /** An 'A' cell, trailing blanks trimmed (`FitsFormat.asciiCell`). */
  private def putAscii(v: WritableColumnVector, r: Int, b: Array[Byte],
      off: Int, len: Int): Unit = {
    val end = FitsFormat.asciiEnd(b, off, len)
    if (end >= 0) v.putByteArray(r, b, off, end - off)
    else v.putByteArray(r, FitsFormat.asciiCell(b, off, len).getBytes)
  }

  /** `n` scalar elements of `c` into rows `dst…` of `v`, element i at
    * `src[base + i·stride]`: the `FitsFormat.decodeElem` + `applyScale`
    * rules (TNULL → NULL, unsigned idioms, TSCAL/TZERO, NaN/Inf → NULL)
    * as one typed loop per element type.
    */
  private def putElems(c: ColSpec, v: WritableColumnVector, dst: Int,
      src: ByteBuffer, base: Int, stride: Int, n: Int): Unit = {
    val scaled = c.hasScaling
    val s = c.scale.getOrElse(1.0)
    val z = c.zero.getOrElse(0.0)
    val tnull = c.hasTnull
    val tv = c.tnullValue
    val unsigned = c.isUnsignedIdiom
    var i = 0
    var pos = base
    c.code match {
      case 'L' => // FITS 4.0: 'T', 'F', 0x00 = undefined
        while (i < n) {
          src.get(pos) match {
            case 0x54 => v.putBoolean(dst + i, true)
            case 0x46 => v.putBoolean(dst + i, false)
            case _ => v.putNull(dst + i)
          }
          i += 1; pos += stride
        }
      case 'B' =>
        while (i < n) {
          val raw = src.get(pos) & 0xff
          if (tnull && raw == tv) v.putNull(dst + i)
          else if (scaled) v.putDouble(dst + i, raw * s + z)
          else if (unsigned) v.putShort(dst + i, (raw - 128).toShort) // TZERO=-128
          else v.putShort(dst + i, raw.toShort)
          i += 1; pos += stride
        }
      case 'I' =>
        while (i < n) {
          val raw = src.getShort(pos)
          if (tnull && raw == tv) v.putNull(dst + i)
          else if (scaled) v.putDouble(dst + i, raw * s + z)
          else if (unsigned) v.putInt(dst + i, raw + 32768)
          else v.putShort(dst + i, raw)
          i += 1; pos += stride
        }
      case 'J' =>
        while (i < n) {
          val raw = src.getInt(pos)
          if (tnull && raw == tv) v.putNull(dst + i)
          else if (scaled) v.putDouble(dst + i, raw * s + z)
          else if (unsigned) v.putLong(dst + i, raw + 2147483648L)
          else v.putInt(dst + i, raw)
          i += 1; pos += stride
        }
      case 'K' =>
        while (i < n) {
          val raw = src.getLong(pos)
          if (tnull && raw == tv) v.putNull(dst + i)
          else if (scaled) v.putDouble(dst + i, raw * s + z)
          else if (unsigned) v.putDecimal(dst + i, FitsFormat.unsignedK(raw), 20)
          else v.putLong(dst + i, raw)
          i += 1; pos += stride
        }
      case 'E' => // fits2db float policy (§1.2): NaN/Inf → NULL
        while (i < n) {
          val f = src.getFloat(pos)
          if (f.isNaN || f.isInfinite) v.putNull(dst + i)
          else if (scaled) v.putDouble(dst + i, f * s + z)
          else v.putFloat(dst + i, f)
          i += 1; pos += stride
        }
      case 'D' =>
        while (i < n) {
          val d = src.getDouble(pos)
          if (d.isNaN || d.isInfinite) v.putNull(dst + i)
          else if (scaled) v.putDouble(dst + i, d * s + z)
          else v.putDouble(dst + i, d)
          i += 1; pos += stride
        }
      case 'C' | 'M' => // (re, im) struct; a struct vector's fields grow apart
        val re = v.getChild(0)
        val im = v.getChild(1)
        re.reserve(dst + n)
        im.reserve(dst + n)
        while (i < n) {
          if (c.code == 'C') {
            re.putFloat(dst + i, src.getFloat(pos))
            im.putFloat(dst + i, src.getFloat(pos + 4))
          } else {
            re.putDouble(dst + i, src.getDouble(pos))
            im.putDouble(dst + i, src.getDouble(pos + 8))
          }
          i += 1; pos += stride
        }
      case other => throw new IllegalStateException(s"no element decoder for '$other'")
    }
  }
}
