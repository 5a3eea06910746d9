package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.immutable.ListMap

/** One benchmark run in one JVM: start a session, set up the workload, run
  * it as a closed loop for the requested seconds, check the outputs, and
  * write the result line and the full record. `run.py` builds the program,
  * launches this main and prints the result as its last line.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --data DIR --expected FILE --sf X --result FILE --record FILE
  *   [--write-expected]
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, data: String, expected: String,
      sf: Double, result: String, record: String, writeExpected: Boolean)

  val Workloads: Seq[String] = Seq("ingest_parquet", "ingest_jdbc", "ops_mix")

  def parse(argv: Seq[String]): Opts = {
    @annotation.tailrec
    def go(rest: List[String], m: Map[String, String]): Map[String, String] =
      rest match {
        case Nil => m
        case "--write-expected" :: t => go(t, m + ("write-expected" -> "1"))
        case k :: v :: t if k.startsWith("--") => go(t, m + (k.drop(2) -> v))
        case other => throw new IllegalArgumentException(s"bad arguments: $other")
      }
    val m = go(argv.toList, Map.empty)
    def need(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("data"), need("expected"),
      need("sf").toDouble, need("result"), need("record"), m.contains("write-expected"))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    o
  }

  /** Everything a workload needs from the harness. */
  final case class Ctx(spark: SparkSession, opts: Opts, nproc: Int, spans: Spans,
      listeners: Option[Listeners]) {
    def scratch(name: String): String = {
      val f = new java.io.File(opts.work, name)
      f.mkdirs()
      f.getAbsolutePath
    }
  }

  /** What a workload hands back. Setup parts that are repeated within the
    * run are reported as their median; `perLayer` is empty when untraced.
    */
  final case class Outcome(setupSeconds: Double,
      attempted: Int, failed: Int, correct: Boolean,
      endToEnd: Seq[(String, Double, String)],
      perLayer: Map[String, Double], detail: Seq[(String, Any)])

  def main(argv: Array[String]): Unit = {
    val jvmStart = System.nanoTime()
    val opts = parse(argv.toIndexedSeq)
    val loadStart = Env.loadAvg()
    val nproc = Runtime.getRuntime.availableProcessors()
    val master = s"local[$nproc]"
    val spark = graft.Util.sessionBuilder(master, nproc.toString)
      .appName("perfbench")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${opts.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionSeconds = (System.nanoTime() - jvmStart) / 1e9
    val listeners = if (opts.trace) Some(new Listeners(spark)) else None
    listeners.foreach(_.attach())
    val ctx = Ctx(spark, opts, nproc, new Spans(opts.trace, spark), listeners)
    val out = opts.workload match {
      case "ingest_parquet" => Ingest.run(ctx, jdbc = false)
      case "ingest_jdbc" => Ingest.run(ctx, jdbc = true)
      case "ops_mix" => OpsMix.run(ctx)
    }
    val setupSeconds = sessionSeconds + out.setupSeconds
    val peakRssMb = Env.peakRssMb()
    val loadEnd = Env.loadAvg()

    val endToEnd = ("setup_s", setupSeconds, "s") +: out.endToEnd :+
      (("peak_rss_mb", peakRssMb, "MB"))
    val perLayer = Layers.Units.map { case (n, u) => (n, out.perLayer.getOrElse(n, 0.0), u) }
    val reported = if (opts.trace) perLayer else endToEnd
    def metrics(ms: Seq[(String, Double, String)]): ListMap[String, Any] =
      ListMap(ms.map { case (n, v, u) => n -> ListMap("value" -> v, "unit" -> u) }: _*)
    val result = ListMap(
      "correct" -> out.correct,
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> metrics(reported))
    val env = ListMap(
      "nproc" -> nproc,
      "master" -> master,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark" -> spark.version,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "seed" -> opts.seed,
      "seconds" -> opts.seconds,
      "trace" -> opts.trace,
      "load_avg_start" -> loadStart,
      "load_avg_end" -> loadEnd)
    val record = ListMap(
      "workload" -> opts.workload,
      "env" -> env,
      "result" -> result,
      "end_to_end" -> metrics(endToEnd),
      "per_layer" -> metrics(perLayer),
      "setup" -> ListMap("session_s" -> sessionSeconds, "workload_s" -> out.setupSeconds),
      "detail" -> ListMap(out.detail: _*),
      "spans" -> ctx.spans.records)
    spark.stop()
    Env.write(opts.record, Env.json(record) + "\n")
    Env.write(opts.result, Env.json(result) + "\n")
    // a wrong output is a failed run: the caller exits non-zero on it
    if (!out.correct) sys.exit(1)
  }

  /** Closed loop: the next unit starts only after the previous one returns,
    * until `seconds` have passed and at least `minUnits` units ran.
    */
  def closedLoop(seconds: Double, minUnits: Int)(unit: Int => Unit): Double = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minUnits || (System.nanoTime() - t0) / 1e9 < seconds) { unit(i); i += 1 }
    (System.nanoTime() - t0) / 1e9
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Order statistics used by every workload. */
object Stats {
  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** The latency tail: the highest percentile with at least ten samples
    * beyond it among the `guaranteed` samples every run reaches, taken by
    * nearest rank over all samples the run has. Below 20 guaranteed samples
    * that percentile would not lie above the median, so the maximum is
    * reported. The percentile depends only on `guaranteed`, so a run that
    * fits in more samples reads the same percentile as one that does not.
    * Returns the value, the percentile and n.
    */
  def tail(xs: Seq[Double], guaranteed: Int): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    require(n >= guaranteed, s"$n samples, $guaranteed guaranteed")
    if (guaranteed < 20) (s.last, 100.0, n)
    else {
      // nearest rank ceil(n * (g - 10) / g), in integers
      val rank = (n.toLong * (guaranteed - 10) + guaranteed - 1) / guaranteed
      (s(rank.toInt - 1), 100.0 * (guaranteed - 10) / guaranteed, n)
    }
  }
}

/** Order-insensitive content digests: row count plus the sum and the xor of
  * a 64-bit hash over every column of every row. Referencing every column
  * also keeps Catalyst from pruning any part of the plan being timed.
  */
object Digest {
  /** `looseFloats` hashes floating values at float precision, so results
    * whose last bits depend on the order of a parallel sum still match.
    */
  def of(df: DataFrame, looseFloats: Boolean): (Long, String) = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType, looseFloats))
    val r = renamed.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))), bit_xor(col("h")))
      .head()
    val s = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    val x = if (r.isNullAt(2)) 0L else r.getLong(2)
    (r.getLong(0), s"$s:$x")
  }

  private def norm(c: Column, t: DataType, loose: Boolean): Column = t match {
    case DoubleType | FloatType => if (loose) c.cast(FloatType) else c.cast(DoubleType)
    case ByteType | ShortType | IntegerType | LongType => c.cast(LongType)
    case ArrayType(et, _) => transform(c, x => norm(x, et, loose))
    case st: StructType =>
      struct(st.fields.toSeq.map(f => norm(c.getField(f.name), f.dataType, loose).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      norm(array_sort(map_entries(c)),
        ArrayType(StructType(Seq(StructField("key", kt), StructField("value", vt)))), loose)
    case _ => c
  }

  /** Same digest over columns matched by lower-cased name, for comparing a
    * loaded table with its source when the sink changes name case.
    */
  def byName(df: DataFrame): (Long, String) = {
    val named = df.columns.map(c => c -> c.toLowerCase).sortBy(_._2)
    of(df.select(named.map { case (c, l) => col(s"`$c`").as(l) }.toIndexedSeq: _*),
      looseFloats = false)
  }
}

/** Process facts for the environment stamp and `peak_rss_mb`. */
object Env {
  /** The 1-minute system load average. */
  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** The JVM's resident-set high-water mark (VmHWM) in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    finally src.close()
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Scala maps, sequences, numbers, strings and booleans as JSON; numbers
    * keep every digit, so a change in a timing is never rounded away.
    */
  def json(value: Any): String = mapper.writeValueAsString(value)

  def write(path: String, text: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, text)
  }
}
