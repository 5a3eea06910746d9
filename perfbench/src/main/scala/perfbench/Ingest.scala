package perfbench

import graft.fits.{FitsScan, FitsTable, FitsWriter}
import graft.ingest.{Convert, Ddl, Main => Cli}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** The fits2db job itself, driven through the ingest CLI's public entry
  * points (`Main.parse` + `Main.run`) on FITS files exported in set-up.
  *
  *  - ingest_parquet: lineitem as one plain BINTABLE, loaded to parquet.
  *  - ingest_jdbc: orders as tile-compressed BINTABLEs, the seed assigning
  *    rows to files, loaded over the glob into embedded Derby with --drop.
  *
  * Traced, each job is followed by the same load split into layers: glob
  * expansion, header reads and split planning, decode alone (noop sink),
  * decode plus conversion (noop sink), the DDL, and the sink alone fed from
  * a cached converted frame. The layers need not add up to the job: the
  * remainder is reported as `ingest.remainder_s`.
  */
object Ingest {
  private val SetupRepeats = 2
  private val WarmupJobs = 2
  private val MinJobs = 3
  private val OrderFiles = 8
  private val TileRows = 4096
  private val Table = "orders"

  def run(ctx: Main.Ctx, jdbc: Boolean): Main.Outcome = {
    val spark = ctx.spark
    val o = ctx.opts
    val sp = ctx.spans
    val fitsDir = ctx.scratch("fits")
    val source =
      if (jdbc) Gen.orders(spark, o.sf, o.seed, ctx.nproc)
      else Gen.lineitem(spark, o.sf, o.seed, ctx.nproc)
    val pattern =
      if (jdbc) s"$fitsDir/orders_*.fits" else s"$fitsDir/lineitem.fits"

    // set-up 1, repeated: export the source as FITS
    def exportFixtures(): Unit = {
      Option(new java.io.File(fitsDir).listFiles()).foreach(_.foreach(_.delete()))
      if (jdbc) {
        val fileOf = pmod(xxhash64(col("o_orderkey"), lit(o.seed), lit(99)), lit(OrderFiles.toLong))
        // one single-partition export per file, all files at once: each
        // export is a chain of small jobs, so running them side by side
        // fills the task slots one chain alone leaves idle
        val pool = java.util.concurrent.Executors.newFixedThreadPool(OrderFiles)
        try (0 until OrderFiles).map { f =>
          pool.submit(new Runnable {
            def run(): Unit = FitsWriter.writeTiledDataFrame(s"$fitsDir/orders_$f.fits",
              source.where(fileOf === f).coalesce(1), TileRows, Gen.OrdersStrLens)
          })
        }.foreach(_.get())
        finally pool.shutdown()
      } else FitsWriter.writeDataFrame(pattern, source, strLens = Gen.LineitemStrLens)
    }
    val exportSeconds = (1 to SetupRepeats).map(_ => Main.time(exportFixtures())._2)

    val files = Cli.expandGlobs(spark, Seq(pattern))
    val fitsBytes = files.map(f => localFile(f).length()).sum
    val nRows = source.count()
    val derbyUrl = s"jdbc:derby:${ctx.scratch("derby")}/bench;create=true"
    val outDir = s"${ctx.scratch("out")}/lineitem"
    val argv =
      if (jdbc) Seq("--dialect", "derby", "--url", derbyUrl, "--table", Table, "--drop", pattern)
      else Seq("--dialect", "parquet", "--out", outDir, pattern)
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")

    def job(): Unit = Cli.run(spark, Cli.parse(argv))
    def loadedRows(): Long =
      if (jdbc) jdbcQuery(derbyUrl, s"SELECT COUNT(*) FROM ${Ddl.Derby.quote(Table)}")
      else spark.read.parquet(outDir).count()
    def loaded(): DataFrame =
      if (jdbc) spark.read.jdbc(derbyUrl, Ddl.Derby.quote(Table), props)
      else spark.read.parquet(outDir)

    // set-up 2, once: JIT, codegen and the Derby database
    val (_, warmSeconds) = Main.time((1 to WarmupJobs).foreach(_ => job()))

    // traced only: the same load split into layers
    var splits = 0
    def split(): Unit = {
      val found = sp("ingest.glob")(Cli.expandGlobs(spark, Seq(pattern)))
      val schema = sp("fits.header")(found.map(FitsTable.readSpec(_, 0)).head.spec.schema)
      splits = sp("fits.splits")(FitsScan.splitsFor(found, 0, schema, None).length)
      def read() = spark.read.format("fits").load(found: _*)
      sp("fits.decode", tag = "fits.decode")(noop(read()))
      sp("ingest.convert", tag = "ingest.convert")(noop(Convert.convert(read(), Convert.ConvertSpec())))
      val flat = Convert.flattenStructCols(Convert.convert(read(), Convert.ConvertSpec()))
      if (jdbc) sp("ingest.ddl", tag = "ingest.ddl")(Convert.prepareJdbcTable(
        derbyUrl, Table, flat.schema, Ddl.Derby, Ddl.DropCreate))
      val cached = flat.persist(StorageLevel.MEMORY_ONLY)
      cached.count()
      sp("sink.write", tag = "sink.write") {
        if (jdbc) cached.write.mode("append").jdbc(derbyUrl, Ddl.Derby.quote(Table), props)
        else cached.write.mode("overwrite").parquet(outDir)
      }
      cached.unpersist(blocking = true)
    }

    ctx.listeners.foreach(_.reset())
    val latencies = mutable.ArrayBuffer.empty[Double]
    var failed = 0
    // traced, the split runs before each job, not after it: the table the
    // last job loaded is then the one the content digest and
    // `sink.bytes_written` read, not the split's own copy
    val wall = Main.closedLoop(o.seconds, MinJobs) { _ => sp("iteration") {
      if (o.trace) split()
      val (outcome, t) = Main.time(sp("job", tag = "job")(Try(job())))
      latencies += t
      val rows = outcome.flatMap(_ => sp("check.rows")(Try(loadedRows())))
      rows match {
        case Success(n) if n == nRows => ()
        case Success(n) =>
          failed += 1
          System.err.println(s"[perfbench] job loaded $n rows, expected $nRows")
        case Failure(e) =>
          failed += 1
          System.err.println(s"[perfbench] job failed: $e")
      }
    }}
    val sinkBytes =
      if (jdbc) jdbcQuery(derbyUrl, "SELECT SUM(NUMALLOCATEDPAGES * PAGESIZE) FROM " +
        s"TABLE (SYSCS_DIAG.SPACE_TABLE('APP', '$Table')) T")
      else Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).map(_.length()).sum

    // once per run, outside the timed loop: the loaded table's content
    // against the source put through the same conversion
    val ((expected, got), checkSeconds) = Main.time(
      (Digest.byName(Convert.convert(source, Convert.ConvertSpec())), Try(Digest.byName(loaded()))))
    val contentOk = got.toOption.contains(expected)
    if (!contentOk) {
      System.err.println(s"[perfbench] content digest $got, expected $expected")
      if (failed < latencies.size) failed += 1
    }
    if (jdbc) shutdownDerby()

    val p50 = graft.Util.median(latencies.toSeq)
    val (tail, tailPct, n) = Stats.tail(latencies.toSeq, MinJobs)
    val endToEnd = Seq(
      ("rows_per_s", nRows / p50, "rows/s"),
      ("mb_per_s", fitsBytes / 1e6 / p50, "MB/s"),
      ("queries_per_s", 1.0 / p50, "queries/s"),
      ("latency_p50_s", p50, "s"),
      ("latency_tail_s", tail, "s"),
      ("latency_geomean_s", Stats.geomean(latencies.toSeq), "s"))
    val perLayer = ctx.listeners.fold(Map.empty[String, Double]) { l =>
      l.drain()
      def med(name: String): Double = {
        val xs = sp.seconds(name)
        if (xs.isEmpty) 0.0 else graft.Util.median(xs)
      }
      val jobs = latencies.size.toDouble
      val jobWall = med("job")
      val decode = med("fits.decode")
      val convert = med("ingest.convert") - decode
      val ddl = med("ingest.ddl")
      val sink = med("sink.write")
      val sinkAcc = l.phase("sink.write")
      Map(
        "fits.header_s" -> med("fits.header"),
        "fits.splits" -> splits.toDouble,
        "fits.decode_s" -> decode,
        "fits.rows_decoded" -> l.phase("fits.decode").recordsRead / jobs,
        "ingest.glob_s" -> med("ingest.glob"),
        "ingest.convert_s" -> convert,
        "ingest.ddl_s" -> ddl,
        "ingest.job_s" -> jobWall,
        "ingest.remainder_s" -> (jobWall - decode - convert - ddl - sink),
        "sink.write_s" -> sink,
        "sink.tasks" -> sinkAcc.tasks / jobs,
        "sink.task_s_max" -> (if (sinkAcc.taskSeconds.isEmpty) 0.0 else sinkAcc.taskSeconds.max),
        "sink.task_s_p50" -> (if (sinkAcc.taskSeconds.isEmpty) 0.0
          else graft.Util.median(sinkAcc.taskSeconds.toSeq)),
        "sink.bytes_written" -> sinkBytes.toDouble) ++
        Layers.spark(l, l.phase("job"), sp.windows("job"), jobs, sp.seconds("job").sum, ctx.nproc)
    }
    Main.Outcome(
      setupSeconds = graft.Util.median(exportSeconds) + warmSeconds,
      attempted = latencies.size,
      failed = failed,
      correct = failed == 0,
      endToEnd = endToEnd,
      perLayer = perLayer,
      detail = Seq(
        "rows" -> nRows,
        "fits_files" -> files.size,
        "fits_bytes" -> fitsBytes,
        "export_s" -> exportSeconds,
        "warmup_s" -> warmSeconds,
        "latencies_s" -> latencies.toSeq,
        "latency_tail_percentile" -> tailPct,
        "latency_n" -> n,
        "loop_wall_s" -> wall,
        "content_check_s" -> checkSeconds,
        "content_digest_ok" -> contentOk))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def localFile(hadoopPath: String): java.io.File =
    new java.io.File(new org.apache.hadoop.fs.Path(hadoopPath).toUri.getPath)

  private def jdbcQuery(url: String, sql: String): Long = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      rs.next()
      rs.getLong(1)
    } finally c.close()
  }

  /** Embedded Derby stops its threads and closes its files on shutdown; it
    * reports a successful shutdown as SQLState XJ015.
    */
  private def shutdownDerby(): Unit =
    try java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true")
    catch { case e: java.sql.SQLException if e.getSQLState == "XJ015" => () }
}
