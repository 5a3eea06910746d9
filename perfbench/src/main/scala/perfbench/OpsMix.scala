package perfbench

import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** A closed loop over operator keys from every `graft.ops` module, each pass
  * in a seed-shuffled order. Each key's timed action is its content digest
  * (row count plus an all-columns hash), which references every output
  * column, so no part of the plan is pruned away as under a bare count.
  * Digests are compared with values committed beside the benchmark.
  */
object OpsMix {
  // two passes give 2 x 22 samples, so the tail percentile (see
  // Stats.tail) is the 77th on every run, well above the median
  private val MinPasses = 2

  /** (module, the module's keys, short keys in the mix). Every module
    * contributes; the mix keeps the small planning-bound keys, the FITS
    * table and image-HDU sources, an ANN index build and probe, a
    * streaming ANN serve and the keys whose bare count would prune their
    * plan (b8, b18, f4, i22, i34, i51, m5).
    */
  private val Mix: Seq[(String, Map[String, graft.OpQuery], Seq[String])] = Seq(
    ("ScanOps", ScanOps.all, Seq("a7", "a18", "a19")),
    ("EtlOps", EtlOps.all, Seq("b8", "b18")),
    ("RelOps", RelOps.all, Seq("d8", "g4")),
    ("AggOps", AggOps.all, Seq("e2", "e5")),
    ("WindowOps", WindowOps.all, Seq("f2", "f4")),
    ("ScalarOps", ScalarOps.all, Seq("h1", "h7")),
    ("LlmOps", LlmOps.all, Seq("i10", "i63")),
    ("StreamOps", StreamOps.all, Seq("j1", "j21")),
    ("MultimodalOps", MultimodalOps.all, Seq("m5")),
    ("TrainOps", TrainOps.all, Seq("i22", "i51")),
    ("CorpusOps", CorpusOps.all, Seq("i31", "i34")))

  val Modules: Seq[String] = Mix.map(_._1)

  final case class Key(module: String, name: String, fn: (SparkSession, String) => DataFrame)

  /** Short keys resolve to exactly one full key of their module. */
  def keys: Seq[Key] = Mix.flatMap { case (module, all, shorts) =>
    shorts.map { s =>
      val hits = all.keys.filter(_.startsWith(s + "_")).toSeq
      require(hits.size == 1, s"$module: key $s matches ${hits.mkString(", ")}")
      Key(module, hits.head, all(hits.head).fn)
    }
  }

  final case class Sample(key: Key, buildS: Double, execS: Double, digest: Try[(Long, String)]) {
    def latency: Double = buildS + execS
  }

  def run(ctx: Main.Ctx): Main.Outcome = {
    val spark = ctx.spark
    val o = ctx.opts
    val ks = keys
    val expected = readExpected(o.expected)

    def query(k: Key, sp: Spans = ctx.spans): Sample = sp(s"query:${k.name}", tag = "query") {
      val t0 = System.nanoTime()
      var t1 = 0L
      val d = Try {
        val df = sp("ops.build")(k.fn(spark, o.data))
        t1 = System.nanoTime()
        sp("ops.exec")(Digest.of(df, looseFloats = true))
      }
      val t2 = System.nanoTime()
      if (t1 == 0L) t1 = t2
      Sample(k, (t1 - t0) / 1e9, (t2 - t1) / 1e9, d)
    }

    // set-up: one untimed pass builds every key's scaffolding fixtures and
    // warms JIT and codegen, nproc keys at a time (spans are recorded by
    // the timed loop only: they are not thread-safe)
    val (warm, warmSeconds) = Main.time {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.nproc)
      val untraced = new Spans(enabled = false, spark)
      try ks.map(k => pool.submit(() => query(k, untraced))).map(_.get())
      finally pool.shutdown()
    }
    warm.foreach(s => s.digest.failed.foreach(e =>
      System.err.println(s"[perfbench] warm-up ${s.key.name} failed: $e")))

    ctx.listeners.foreach(_.reset())
    val rng = new scala.util.Random(o.seed)
    val samples = mutable.ArrayBuffer.empty[Sample]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    Main.closedLoop(o.seconds, MinPasses) { _ =>
      val order = rng.shuffle(ks)
      passWalls += Main.time(ctx.spans("pass")(order.foreach(k => samples += query(k))))._2
    }

    val observed = samples.groupBy(_.key.name).map { case (k, ss) =>
      k -> ss.flatMap(_.digest.toOption).distinct.toSeq }
    if (o.writeExpected) writeExpected(o.expected, ks, observed)
    val bad = samples.filterNot(s => s.digest.toOption.exists(d =>
      expected.get(s.key.name).contains(d) ||
        (o.writeExpected && observed(s.key.name) == Seq(d))))
    bad.foreach { s =>
      val why = s.digest match {
        case Failure(e) => e.toString
        case Success(d) => s"digest $d, expected ${expected.get(s.key.name)}"
      }
      System.err.println(s"[perfbench] ${s.key.name} failed: $why")
    }

    val passes = passWalls.size.toDouble
    val lat = samples.map(_.latency).toSeq
    val perKey = ks.map(k => k -> samples.filter(_.key == k).map(_.latency).toSeq)
    val (tail, tailPct, n) = Stats.tail(lat, MinPasses * ks.size)
    val rowsOut = samples.flatMap(_.digest.toOption.map(_._1)).sum
    val dataBytes = Option(new java.io.File(o.data).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val endToEnd = Seq(
      ("rows_per_s", rowsOut / lat.sum, "rows/s"),
      ("mb_per_s", dataBytes / 1e6 * passes / passWalls.sum, "MB/s"),
      ("queries_per_s", samples.size / passWalls.sum, "queries/s"),
      ("latency_p50_s", graft.Util.median(lat), "s"),
      ("latency_tail_s", tail, "s"),
      ("latency_geomean_s", Stats.geomean(perKey.map(kv => graft.Util.median(kv._2))), "s"))

    val perLayer = ctx.listeners.fold(Map.empty[String, Double]) { l =>
      l.drain()
      val batches = l.streamBatches
      Modules.map(m => s"ops.$m.s" ->
        samples.filter(_.key.module == m).map(_.latency).sum / passes).toMap ++ Map(
        "ops.build_s" -> samples.map(_.buildS).sum / passes,
        "ops.exec_s" -> samples.map(_.execS).sum / passes,
        "ops.pass_s" -> passWalls.sum / passes,
        "stream.batches" -> batches.size / passes,
        "stream.add_batch_s" -> batches.map(_._1).sum / passes,
        "stream.query_planning_s" -> batches.map(_._2).sum / passes,
        "stream.wal_commit_s" -> batches.map(_._3).sum / passes) ++
        Layers.spark(l, l.phase("query"), ctx.spans.windows("query:"), passes, passWalls.sum, ctx.nproc)
    }

    Main.Outcome(
      setupSeconds = warmSeconds,
      attempted = samples.size,
      failed = bad.size,
      correct = bad.isEmpty,
      endToEnd = endToEnd,
      perLayer = perLayer,
      detail = Seq(
        "keys" -> ks.size,
        "passes" -> passWalls.size,
        "pass_walls_s" -> passWalls.toSeq,
        "warmup_s" -> warmSeconds,
        "latency_tail_percentile" -> tailPct,
        "latency_n" -> n,
        "data_bytes" -> dataBytes,
        "per_key" -> ListMap(perKey.map { case (k, xs) =>
          k.name -> ListMap(
            "module" -> k.module,
            "warmup_s" -> warm.find(_.key == k).fold(0.0)(_.latency),
            "median_s" -> graft.Util.median(xs),
            "build_median_s" -> graft.Util.median(
              samples.filter(_.key == k).map(_.buildS).toSeq),
            "samples_s" -> xs,
            "digests" -> observed(k.name).map { case (r, h) => s"$r\t$h" })
        }: _*)))
  }

  /** Expected digests, one `key<TAB>rows<TAB>hash` line per key. */
  private def readExpected(path: String): Map[String, (Long, String)] = {
    val f = new java.io.File(path)
    if (!f.exists()) Map.empty
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l => val Array(k, r, h) = l.split("\t"); k -> (r.toLong, h) }.toMap
      finally src.close()
    }
  }

  /** Records this run's digests as the expected values; a key whose passes
    * disagreed is left out, so it fails every later run until it is fixed.
    */
  private def writeExpected(path: String, ks: Seq[Key],
      observed: Map[String, Seq[(Long, String)]]): Unit = {
    val lines = ks.flatMap { k =>
      observed(k.name) match {
        case Seq((r, h)) => Some(s"${k.name}\t$r\t$h")
        case other =>
          System.err.println(s"[perfbench] ${k.name} is not deterministic: $other")
          None
      }
    }
    Env.write(path, ("# key\trows\tdigest (see perfbench/README.md)" +: lines).mkString("\n") + "\n")
  }
}
