package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One declared operator from SURVEY.md §2: a Spark implementation plus an
  * optional DuckDB oracle SQL (None ⇒ driver records a rows-only check).
  */
final case class OpQuery(fn: (SparkSession, String) => DataFrame, oracle: Option[String])

object OpQuery {
  def apply(fn: (SparkSession, String) => DataFrame, sql: String): OpQuery =
    OpQuery(fn, Some(sql))
}

/** Parquet table readers for the driver-generated corpus (TESTDATA.md).
  *
  * Scale note (100 TB posture): `spark.read.parquet` over a directory of
  * many files partitions by row-group/file split automatically; nothing here
  * assumes a single file. Filters/projections applied by callers reach the
  * scan via Catalyst pushdown — verified via explain() in BenchReport.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // DataFrame HANDLES (logical plans, not data) are cached per
  // (session, dir, table): each spark.read.parquet pays a driver-side file
  // listing + footer read, which across ~90 bench queries × 2-6 tables adds
  // tens of seconds of pure planning overhead. Plans are immutable, so
  // sharing the handle is safe; no rows are cached.
  // ASSUMES the fixture parquet is immutable for the cache's lifetime
  // (TESTDATA.md: read-only, driver-generated) — a regenerated file would
  // serve a stale listing. Crudely bounded so long-lived multi-session
  // JVMs (test runs) can't grow it without limit.
  private val handles =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    if (handles.size > 256) handles.clear()
    handles.computeIfAbsent((s, dir, name), _ => load(s, dir, name))
  }

  private def load(s: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts is parquet TIMESTAMP(NANOS), which Spark 4 cannot map to
      // TimestampType directly (PARQUET_TYPE_ILLEGAL). Read nanos as long
      // and truncate to µs — exactly what DuckDB does on read (SURVEY
      // §7.4.4), so both engines see identical µs values.
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      nanosTsToMicros(s.read.parquet(s"$dir/$name.parquet"))
    } else s.read.parquet(s"$dir/$name.parquet")
  }

  /** The single owner of the ns→µs rule (used by the batch loader, the
    * streaming source and the parity tests — keep the conversion in one
    * place).
    */
  def nanosTsToMicros(df: DataFrame): DataFrame =
    if (df.schema.fields.exists(f => f.name == "ts" && f.dataType == LongType))
      df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else df

  /** Structured-streaming source over the events parquet, with the same
    * nanos handling as the batch loader.
    *
    * The raw schema comes from an actual batch read of the file (with
    * nanosAsLong set), NOT from assuming ts is nanos: fixture vintages
    * differ — ns-precision files surface ts as LongType (and get the
    * DIV-1000 truncation), µs-precision files surface TimestampType
    * directly (and `nanosTsToMicros` must no-op; forcing a LongType
    * schema on a µs file would silently divide real microseconds by
    * 1000, collapsing every watermark/window 1000×).
    */
  def eventsStream(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
    nanosTsToMicros(
      s.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }
}

/** Small shared file utilities. */
object Util {
  /** The ONE definition of the session config every main shares (master,
    * shuffle partitions sized to cores, timestamp-NTZ inference off —
    * see SparkTestBase for why — UI off). Six hand-copies of the NTZ
    * flag in one round is exactly how session-config drift happens;
    * mains chain their extras (timezone, appName) on the returned
    * builder.
    */
  def sessionBuilder(master: String, shufflePartitions: String)
      : org.apache.spark.sql.SparkSession.Builder =
    org.apache.spark.sql.SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // NOT set: spark.sql.adaptive.coalescePartitions.parallelismFirst.
      // r12 A/B'd false (coalesce tiny post-shuffle stages to the
      // advisory size) against the default on the anchor floor —
      // 20-rep medians f2/e5/j1 = 0.40/0.30/0.21 s with it vs
      // 0.39/0.26/0.18 s without, same load window: the AQE coalesce
      // pass costs more than the ~30 near-empty tasks it saves at
      // fixture scale, and at 100 TB stages exceed the advisory size
      // so the flag is a no-op there. PERF.md §r12 has the receipts.
      .config("spark.ui.enabled", "false")

  /** Parse-and-validate SPARK_GRAFT_ONLY (the shared Bench/Verify subset
    * convention): set-but-empty means unset, unknown keys fail fast —
    * BEFORE session startup, in milliseconds.
    */
  def onlySubset(queries: Map[String, _]): Option[Set[String]] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    only.foreach { keys =>
      val unknown = keys -- queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY keys not in SparkEntry.queries: ${unknown.mkString(", ")}")
    }
    only
  }

  /** Median of a non-empty sample (shared Bench/LadderMain timing math). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Best-effort recursive delete (null-safe on racing listFiles). */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Process-unique scratch path: concurrent Verify/Bench JVMs must not
    * collide on sink fixtures, Derby databases or stream checkpoints. The
    * run directory is wiped on first use (pid recycling must not inherit a
    * dead run's state). NO exit-time deletion: the DuckDB oracle reads the
    * CSV/FITS fixtures AFTER the Verify JVM exits — instead, each new run
    * sweeps sibling run dirs that have been untouched for >6h. Run dirs
    * live under `java.io.tmpdir` (`/tmp` by default on Linux).
    */
  private lazy val runRoot: java.io.File = {
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_run_${ProcessHandle.current().pid()}")
    deleteRecursively(root)
    Option(root.getParentFile.listFiles()).foreach(_.foreach { f =>
      if (f.getName.startsWith("graft_run_") &&
        f.lastModified() < System.currentTimeMillis() - 6L * 3600 * 1000)
        deleteRecursively(f)
    })
    root.mkdirs()
    root
  }

  def scratch(name: String): String = {
    val f = new java.io.File(runRoot, name)
    f.getParentFile.mkdirs()
    f.getAbsolutePath
  }

  private val builtFixtures = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[String]]()

  /** Build-once SCAFFOLDING fixture (r8 verdict #7): `build` runs the
    * first time `name` is requested in this JVM; later calls — the bench
    * harness's adjacent warm-up plus its timed reps — reuse the artifact,
    * so reps time the OPERATOR, not re-synthesizing its input. Sound
    * because the scratch root is per-PID and wiped at JVM start (no
    * cross-run staleness is possible) and every memoized fixture is a
    * deterministic function of (name ⊇ sfDir, code) — a rebuild within
    * one JVM would be bit-identical. The build runs OUTSIDE the map's
    * bin lock (r9 ADVICE): a future is claimed with putIfAbsent and the
    * arbitrarily-long build — often a Spark job — completes it, so
    * concurrent builds of different keys never serialize on a shared
    * hash bin and a build that recursively requests another fixture
    * cannot deadlock; a concurrent second caller of the SAME key blocks
    * on the future rather than reading a torn artifact. A failed build
    * retracts its claim so the error is not cached. ONLY for
    * scaffolding: keys whose adjudicated cost IS the write/encode
    * (a4/a6/a8/a9/a15/a16/a18/a21 sinks, m8's PNG encode) must keep
    * paying it every rep — the per-key decisions are recorded in PERF.md.
    */
  def fixtureOnce(name: String)(build: String => Unit): String = {
    val claim = new java.util.concurrent.CompletableFuture[String]()
    val prior = builtFixtures.putIfAbsent(name, claim)
    if (prior != null) {
      // join() wraps the builder's failure in CompletionException; rethrow
      // the original so concurrent waiters see the same exception type as
      // the thread that built (tests match on the cause's type)
      try prior.join()
      catch {
        case e: java.util.concurrent.CompletionException
            if e.getCause != null => throw e.getCause
      }
    }
    else {
      try { val p = scratch(name); build(p); claim.complete(p); p }
      catch { case e: Throwable =>
        claim.completeExceptionally(e)
        builtFixtures.remove(name, claim)
        throw e
      }
    }
  }

  /** Streams `src` through gzip into `dst` (bounded buffer, no whole-file
    * materialization) — the one definition behind every .fits.gz fixture.
    */
  def gzipFile(src: String, dst: String): Unit = {
    val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(src))
    try {
      val out = new java.util.zip.GZIPOutputStream(
        java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(dst)))
      try {
        val b = new Array[Byte](1 << 16)
        var n = in.read(b)
        while (n >= 0) { if (n > 0) out.write(b, 0, n); n = in.read(b) }
      } finally out.close()
    } finally in.close()
  }
}

/** Oracle-parity helpers (SURVEY §7.4 determinism rules).
  *
  * The central trick: floating-point SUMs are order-dependent, and Spark and
  * DuckDB aggregate in different orders — raw double sums can never
  * hash-match. Casting each addend to an exact DECIMAL first makes the sum
  * associative (exact), so both engines produce the identical value; the
  * final cast back to DOUBLE is then deterministic. The per-row double
  * arithmetic BEFORE the cast (e.g. price*(1-disc)) is bit-identical in both
  * engines (same IEEE ops on same inputs), so the decimal quantization at
  * scale 10 sees identical inputs.
  */
object Par {
  /** Exact (order-independent) sum of a double expression. The sum is
    * rounded to 4dp IN DECIMAL SPACE before the double cast: DuckDB's
    * wide-decimal→double cast is not correctly rounded (int128/10^10 in
    * double arithmetic drifts an ulp), but a scale-4 decimal's integer part
    * stays under 2^53 so both engines' casts are exact+identical.
    */
  def dsum(c: Column): Column =
    round(sum(c.cast(DecimalType(30, 10))), 4).cast(DoubleType)

  /** DuckDB text of the same exact sum. */
  def dsumSql(expr: String): String =
    s"CAST(round(sum(CAST($expr AS DECIMAL(30,10))), 4) AS DOUBLE)"

  def r6(c: Column): Column = round(c, 6)
  def r4(c: Column): Column = round(c, 4)
}
