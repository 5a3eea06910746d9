package graft

import graft.ops.StreamOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Batch/stream parity (SURVEY §5.4): each J-op's streaming execution under
  * Trigger.AvailableNow over the sf0.001 events parquet must equal its batch
  * form — the only way to gate streaming, since the oracle can't run it.
  */
class StreamOpsSpec extends SparkTestBase {

  private def eventsStream: DataFrame = Tables.eventsStream(spark, sfDir)

  private def runToTable(df: DataFrame, name: String, mode: String): DataFrame = {
    val ckpt = java.nio.file.Files.createTempDirectory(s"graft_ckpt_$name")
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.count() == b.count())
    assert(a.exceptAll(b).count() == 0)
    assert(b.exceptAll(a).count() == 0)
  }

  test("arrival sizing that cannot read a size warns, then uses default parallelism") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Throwable)]()
    val app = new AbstractAppender("arrival-sizing", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage -> e.getThrown)
    }
    app.start()
    val name = StreamOps.getClass.getName
    val logger = LogManager.getLogger(name).asInstanceOf[Logger]
    val level = logger.getLevel
    Configurator.setLevel(name, Level.WARN)
    logger.addAppender(app)
    val src = "nosuchscheme://bucket/drop"
    try {
      val parts = StreamOps.withArrivalSizedShuffle(spark, Seq(src))(
        spark.conf.get("spark.sql.shuffle.partitions"))
      assert(parts == spark.sparkContext.defaultParallelism.toString)
      val warned = seen.toArray.collect { case (m: String, t: Throwable) => (m, t) }
      assert(warned.exists { case (m, _) => m.contains(src) },
        s"no warning naming the path with its error: ${seen.toArray.mkString("; ")}")
    } finally {
      logger.removeAppender(app)
      app.stop()
      Configurator.setLevel(name, level)
    }
  }

  test("j1 tumbling aggregation: stream equals batch") {
    val batch = StreamOps.tumblingAgg(Tables.t(spark, sfDir, "events"))
    val stream = runToTable(StreamOps.tumblingAgg(
      eventsStream.withWatermark("ts", "10 minutes")), "p_j1", "complete")
    assertSameRows(batch, stream)
  }

  test("j2 sliding window: stream equals batch") {
    def slide(df: DataFrame) =
      df.groupBy(window(col("ts"), "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("ws"), col("n"))
    val batch = slide(Tables.t(spark, sfDir, "events"))
    val stream = runToTable(slide(eventsStream.withWatermark("ts", "10 minutes")),
      "p_j2", "complete")
    assertSameRows(batch, stream)
  }

  test("j3 batch surrogate reproduces session_window() semantics") {
    // native session_window over the batch events
    val native = Tables.t(spark, sfDir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
      .select("user_id", "session_start", "session_end", "n_events")
    val surrogate = StreamOps.j3_session_window.fn(spark, sfDir)
      .select("user_id", "session_start", "session_end", "n_events")
    assertSameRows(native, surrogate)
  }

  test("j5 streaming dropDuplicates dedupes within the watermark") {
    val dedup = eventsStream.withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
      .select("event_id")
    val got = runToTable(dedup, "p_j5", "append")
    assert(got.count() == Tables.t(spark, sfDir, "events").count())
  }

  test("j4 watermark filter keeps only the trailing window") {
    val out = StreamOps.j4_watermark_late.fn(spark, sfDir)
    val ev = Tables.t(spark, sfDir, "events")
    val mx = ev.agg(max("ts")).collect()(0).getTimestamp(0)
    val expected = ev.filter(col("ts") >= lit(mx) - expr("INTERVAL 1 DAY")).count()
    assert(out.count() == expected && expected > 0)
  }

  test("j7 mapGroupsWithState: streaming state equals batch aggregation") {
    val batch = StreamOps.userStateAgg(Tables.t(spark, sfDir, "events"))
    val stream = runToTable(StreamOps.userStateAgg(eventsStream), "p_j7", "update")
    // update-mode memory sink may hold one row per state update per batch;
    // AvailableNow over one parquet file = one batch ⇒ final states only.
    assertSameRows(batch, stream)
  }

  test("j6 end-to-end stream harness equals batch j1") {
    val fromStream = StreamOps.j6_stream_agg_sink.fn(spark, sfDir)
    val batch = StreamOps.j1_tumbling_window.fn(spark, sfDir)
    assertSameRows(fromStream, batch)
  }

  test("j8 stream-stream join: two watermarked streams equal the batch join") {
    // a REAL stream-stream inner join: both sides are independent
    // readStreams with watermarks; the user_id equality + two-sided time
    // bound lets the state store evict buffered views once the watermark
    // passes v_ts + 30 min (without the bound Spark would reject or
    // buffer forever). Append mode — joins emit rows exactly once.
    val batch = {
      val ev = Tables.t(spark, sfDir, "events")
      StreamOps.purchaseViewJoin(ev, ev)
    }
    val stream = runToTable(
      StreamOps.purchaseViewJoin(
        eventsStream.withWatermark("ts", "1 hour"),
        eventsStream.withWatermark("ts", "1 hour")),
      "p_j8", "append")
    assertSameRows(batch, stream)
  }

  test("j9 streaming ingest-dedup equals the batch fingerprint dedup") {
    val fromStream = StreamOps.j9_stream_ingest_dedup.fn(spark, sfDir)
    val batch = Tables.t(spark, sfDir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), graft.ops.LlmOps.fingerprint(col("toks")).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("canonical"), count(lit(1)).as("n_copies"))
      .orderBy("canonical")
    assertSameRows(fromStream, batch)
    // the dedup is real: canonicals are distinct, copy counts cover the corpus
    val rows = fromStream.collect()
    assert(rows.map(_.getLong(1)).distinct.length == rows.length)
    assert(rows.map(_.getLong(2)).sum ==
      Tables.t(spark, sfDir, "documents").count())
  }

  test("j11 streaming quality gate equals the batch i29 keep subset") {
    val fromStream = StreamOps.j11_stream_quality_filter.fn(spark, sfDir)
    val batch = graft.ops.LlmOps.i29_quality_filter.fn(spark, sfDir)
      .filter(col("verdict") === "keep")
      .select("doc_id", "n_tok", "quality")
      .orderBy("doc_id")
    assertSameRows(fromStream, batch)
    // the gate is real at this SF: some docs kept, some dropped
    val kept = fromStream.count()
    val total = Tables.t(spark, sfDir, "documents").count()
    assert(kept > 0 && kept < total,
      s"quality gate vacuous: $kept of $total kept")
  }

  test("j14 streaming perplexity gate equals the batch i38 keep subset") {
    val fromStream = StreamOps.j14_stream_perplexity_gate.fn(spark, sfDir)
    // the row-local map-lookup score must equal batch i38's
    // explode->join->groupBy score EXACTLY (integer micro-nats)
    val batch = graft.ops.CorpusOps.i38_doc_logprob.fn(spark, sfDir)
      .filter(!col("flag_low"))
      .select("doc_id", "n_bigrams", "sum_lp_micro", "mean_lp_micro")
      .orderBy("doc_id")
    assertSameRows(fromStream, batch)
    val kept = fromStream.count()
    val total = Tables.t(spark, sfDir, "documents").count()
    assert(kept > 0 && kept < total,
      s"perplexity gate vacuous: $kept of $total kept")
  }

  test("j12 streaming incremental dedup equals batch i25 on the same drop") {
    val fromStream = StreamOps.j12_stream_incremental_dedup.fn(spark, sfDir)
    val batch = graft.ops.LlmOps.i25_dedup_incremental.fn(spark, sfDir)
    assertSameRows(fromStream, batch) // ids AND verified jaccard values
    // real at this SF: the fixture plants batch-vs-corpus duplicates
    assert(fromStream.count() > 0, "no batch-vs-corpus pairs flagged")
    // incremental contract survives the stream: probe side only flags
    fromStream.collect().foreach { r =>
      assert(r.getLong(0) % 10 == 0 && r.getLong(1) % 10 != 0,
        s"pair (${r.getLong(0)},${r.getLong(1)}) crosses the wrong split")
    }
  }

  test("j13 streaming decontamination equals batch i45 on the same flags") {
    val fromStream = StreamOps.j13_stream_decontaminate.fn(spark, sfDir)
    val batch = graft.ops.LlmOps.i45_decontam_capped.fn(spark, sfDir)
    assertSameRows(fromStream, batch) // ids AND capped containment values
    assert(fromStream.count() > 0, "no contaminated docs flagged (vacuous)")
    // the stream side must only ever flag train docs against bench docs
    val bench = Tables.t(spark, sfDir, "documents")
      .filter(col("source") === "src0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    fromStream.collect().foreach { r =>
      assert(!bench(r.getLong(0)) && bench(r.getLong(1)),
        s"pair (${r.getLong(0)},${r.getLong(1)}) crosses the wrong split")
    }
  }

  test("j12's probe composition plans as a bucket equi-join, never all-pairs") {
    // the same bandedShingles lineage the stream runs, composed as batch
    // frames (micro-batch planning goes through the same Catalyst rules):
    // the candidate join must stay a hash equi-join on the band bucket
    import graft.ops.LlmOps
    val docs = Tables.t(spark, sfDir, "documents")
    val corpus = LlmOps.bandedShingles(docs.filter(col("doc_id") % 10 =!= 0))
      .select(col("doc_id").as("corpus_id"), col("hs").as("hs_c"), col("bucket"))
    val probe = LlmOps.bandedShingles(docs.filter(col("doc_id") % 10 === 0))
      .select(col("doc_id").as("batch_id"), col("hs").as("hs_b"), col("bucket"))
    val plan = probe.join(corpus, "bucket")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"j12 probe degenerated to an all-pairs join:\n$plan")
  }

  test("j12 aggregation state accumulates ACROSS micro-batches (two-file probe)") {
    // The gate runs j12 as one AvailableNow batch; this drives the SAME
    // lineage (bandedShingles probe → static index join → complete-mode
    // aggregation) over TWO probe micro-batches and proves the flagged
    // set accumulates: complete mode re-emits full state per batch, so
    // the FINAL emission must equal the whole-probe batch answer — which
    // only holds if batch 2's state still contains batch 1's pairs.
    import graft.ops.LlmOps
    import graft.functions.VectorFunctions.intersectCount
    val docs = Tables.t(spark, sfDir, "documents")
    val dir = Util.scratch("j12_two_files")
    val probeDocs = docs.filter(col("doc_id") % 10 === 0)
    probeDocs.filter(col("doc_id") % 20 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/f0")
    probeDocs.filter(col("doc_id") % 20 =!= 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/f1")
    val corpusBase = LlmOps.shingleSets(docs.filter(col("doc_id") % 10 =!= 0))
      .localCheckpoint()
    val corpusIdx = LlmOps.withBandBuckets(corpusBase)
      .select(col("doc_id").as("corpus_id"), col("bucket")).localCheckpoint()
    val corpusHs = corpusBase
      .select(col("doc_id").as("corpus_id"), col("hs").as("hs_c"))
    val src = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(dir)
    val probe = LlmOps.bandedShingles(src)
      .select(col("doc_id").as("batch_id"), col("hs").as("hs_b"), col("bucket"))
    val flagged = probe.join(corpusIdx, "bucket")
      .join(corpusHs, "corpus_id")
      .withColumn("inter", intersectCount(col("hs_b"), col("hs_c")))
      .withColumn("jac", col("inter").cast(DoubleType) /
        (size(col("hs_b")) + size(col("hs_c")) - col("inter")))
      .filter(col("jac") >= 0.8)
      .groupBy("batch_id", "corpus_id")
      .agg(round(min(col("jac")), 6).as("jaccard"))
    val ckpt = new java.io.File(Util.scratch("ckpt_j12_two"))
    Util.deleteRecursively(ckpt)
    val q = flagged.writeStream.format("memory").queryName("p_j12_two")
      .outputMode("complete")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // complete mode leaves the LAST batch's full re-emission in the sink
    val fromStream = spark.table("p_j12_two")
      .select("batch_id", "corpus_id", "jaccard")
    val batch = graft.ops.LlmOps.i25_dedup_incremental.fn(spark, sfDir)
    assertSameRows(fromStream, batch)
    // and both probe files must actually contribute flagged pairs, or
    // the cross-batch claim is vacuous
    val sides = fromStream.select((col("batch_id") % 20 === 0).as("s"))
      .distinct().count()
    assert(sides == 2, "flagged pairs all came from one micro-batch")
  }

  test("j17 update-mode deltas accumulate to the complete-mode table, each pair once") {
    val fromUpdate = StreamOps.j17_stream_update_dedup.fn(spark, sfDir)
    val fromComplete = StreamOps.j12_stream_incremental_dedup.fn(spark, sfDir)
    assertSameRows(fromUpdate, fromComplete)
    // the write-once property: the append-only sink must hold NO
    // duplicate keys — update mode emitted each flagged pair exactly once
    val sink = spark.read.parquet(Util.scratch("j17_sink"))
    assert(sink.count() ==
      sink.select("batch_id", "corpus_id").distinct().count(),
      "update mode re-emitted a flagged pair into the append-only sink")
    // both micro-batches contributed deltas (two epochs, both probe
    // halves present) — otherwise the cross-batch claim is vacuous
    assert(sink.select("epoch").distinct().count() >= 2,
      "sink deltas all landed in one epoch — multi-batch path untested")
    val sides = sink.select((col("batch_id") % 20 === 0).as("s"))
      .distinct().count()
    assert(sides == 2, "flagged pairs all came from one probe micro-batch")
  }

  test("j25 watermarked dedup: late classes refused, in-watermark dupes merged, state EVICTED") {
    val out = StreamOps.j25_stream_late_dedup.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val ids = Tables.t(spark, sfDir, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    // the three fates, each non-vacuous on the fixture: day-1 originals
    // n=1 (their late re-sends REFUSED, not double-counted), day-3
    // originals n=2 (in-watermark re-send MERGED — the dedup receipt),
    // new day-3 docs n=1; late new arrivals (%10=5) contribute NOTHING
    val expect = ids.filter(i => Set(1L, 3L, 7L)(i % 10))
      .map(i => i -> (if (i % 10 == 3) 2L else 1L)).sortBy(_._1)
    assert(out.sortBy(_._1).toSeq == expect.toSeq,
      s"sink diverges: ${out.length} rows vs ${expect.length} expected")
    assert(out.map(_._1).distinct.length == out.length,
      "write-once broken: a group emitted twice into the append sink")
    assert(Seq(1L, 3L, 7L).forall(m => ids.exists(_ % 10 == m)) &&
      ids.exists(_ % 10 == 5), "fixture vacuous: a planted class is empty")
    // the EVICTION receipt: re-run the same chain with a query handle
    // and read the state-store metrics — after the final batch every
    // real group was emitted AND evicted; only the day-5 clock row's
    // group remains open
    val ckpt = new java.io.File(Util.scratch("ckpt_j25_spec"))
    Util.deleteRecursively(ckpt)
    val src = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("ts", TimestampType))))
      .option("maxFilesPerTrigger", 1)
      .option("recursiveFileLookup", "true")
      .parquet(Util.scratch(
        s"j25_src_${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}"))
    val q = src.withWatermark("ts", "1 day")
      .groupBy(col("doc_id"), col("ts"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("noop").outputMode("append")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val lastState = q.recentProgress.reverse
      .flatMap(p => Option(p.stateOperators).toSeq.flatten)
      .headOption.getOrElse(fail("no state operator metrics reported"))
    assert(lastState.numRowsTotal == 1L,
      s"state holds ${lastState.numRowsTotal} groups; expected ONLY the " +
        "clock row — eviction did not keep state bounded")
  }

  test("j26 late-data near-dup: late classes refused, re-sends merged, state bounded at ONE group") {
    import graft.ops.LlmOps
    val out = StreamOps.j26_stream_late_neardup.fn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    assert(out.nonEmpty, "no flagged pairs reached the sink")
    // only the admitted arrival classes may appear; the late-new class
    // (%40=20) and the clock row must NOT (late refusal + clock filter)
    assert(out.forall(t => Set(0L, 10L, 30L)(t._1 % 40)),
      s"a late-class or clock probe leaked: ${out.filterNot(t =>
        Set(0L, 10L, 30L)(t._1 % 40)).toSeq}")
    // arrival counts: the re-sent day-3 class merged in-watermark (n=2),
    // everything else once; the day-1 late RE-sends did not double-count
    assert(out.forall(t => t._3 == (if (t._1 % 40 == 10) 2L else 1L)),
      "arrival counts diverge from the planted classes")
    // write-once into the append sink
    assert(out.map(p => (p._1, p._2)).distinct.length == out.length,
      "a flagged pair crossed the sink twice")
    // batch parity: the pair set equals batch j12/i25's flagged pairs
    // restricted to the admitted classes — stream and batch answer the
    // same near-dup question
    val batch = StreamOps.j12_stream_incremental_dedup.fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => Set(0L, 10L, 30L)(p._1 % 40)).toSet
    assert(out.map(p => (p._1, p._2)).toSet == batch,
      "stream pair set diverges from the batch LSH answer")
    // the EVICTION receipt (the j25 convention): re-run the aggregation
    // with a handle — after the final batch only the clock group remains
    val ckpt = new java.io.File(Util.scratch("ckpt_j26_spec"))
    Util.deleteRecursively(ckpt)
    val docs = Tables.t(spark, sfDir, "documents")
    val src = spark.readStream
      .schema(StructType(docs.schema.fields :+
        StructField("ts", TimestampType)))
      .option("maxFilesPerTrigger", 1)
      .option("recursiveFileLookup", "true")
      .parquet(Util.scratch(
        s"j26_src_${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}"))
    val q = LlmOps.shingleSetsWith(src, Seq("ts"))
      .withWatermark("ts", "1 day")
      .groupBy(col("doc_id"), col("ts"), col("hs"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("noop").outputMode("append")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val lastState = q.recentProgress.reverse
      .flatMap(p => Option(p.stateOperators).toSeq.flatten)
      .headOption.getOrElse(fail("no state operator metrics reported"))
    assert(lastState.numRowsTotal == 1L,
      s"state holds ${lastState.numRowsTotal} groups; expected ONLY the " +
        "clock row — fingerprint state must not outlive the watermark")
  }

  test("j27 serving honors the deletion log: no tombstoned vector served, full top-3 back-filled") {
    val served = StreamOps.j27_stream_ann_rivfpq_tomb.fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(served.nonEmpty)
    assert(served.forall(_._2 % 13 != 2), "a deleted vector was served")
    // every query still gets its FULL top-3 of live vectors — the
    // exclusion ran before the cut, not after it
    served.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.length == 3, s"query $q served ${rows.length} rows")
    }
    // and the delete is visible: j24 (no deletion log) serves at least
    // one tombstone-class vector on this fixture, j27 must diverge
    val base = StreamOps.j24_stream_ann_rivfpq.fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(base.exists(_._2 % 13 == 2),
      "fixture vacuous: no tombstone-class vector in j24's serving output")
    assert(served.toSeq != base.toSeq, "the deletion log changed nothing")
  }

  test("j18 per-batch best-match unions to the batch d20 result; each alert resolved once") {
    import graft.ops.RelOps
    val fromStream = StreamOps.j18_stream_xmatch_best.fn(spark, sfDir)
    val batch = RelOps.d20_xmatch_best.fn(spark, sfDir)
    assertSameRows(fromStream, batch)
    // write-once: every alert appears exactly once in the append sink
    val sink = spark.read.parquet(Util.scratch("j18_sink"))
    assert(sink.count() == sink.select("a_id").distinct().count(),
      "an alert was best-matched in more than one micro-batch")
    // both alert files contributed (even and odd keys present), and
    // both match outcomes are live — matched and NULL-counterpart
    val sides = sink.select((col("a_id") % 2 === 0).as("s")).distinct().count()
    assert(sides == 2, "alerts all came from one micro-batch")
    assert(sink.filter(col("best_b").isNull).count() > 0 &&
      sink.filter(col("best_b").isNotNull).count() > 0,
      "fixture must exercise both matched and unmatched alerts")
  }

  test("j19 per-batch image matches union to the brute-force stream x catalog relation") {
    import graft.ops.MultimodalOps
    val fromStream = StreamOps.j19_stream_image_dedup.fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // brute-force reference through the REAL synth→decode→hash path:
    // every even (stream) doc against every odd (catalog) doc
    val ids = Tables.t(spark, sfDir, "documents")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val hh = ids.map(id =>
      id -> MultimodalOps.PHash.hashHex(MultimodalOps.PHash.synth(id))).toMap
    val expect = (for {
      a <- ids if a % 2 == 0
      b <- ids if b % 2 == 1
      hd = hh(a).zip(hh(b)).count(p => p._1 != p._2).toLong
      if hd <= 3
    } yield (a, b, hd)).toSet
    assert(fromStream.toSet == expect,
      s"stream matches diverge: got ${fromStream.length}, expect ${expect.size}")
    assert(expect.nonEmpty, "fixture produced no stream-catalog match (vacuous)")
    // write-once across batches: (a_id, b_id) unique in the append sink
    val sink = spark.read.parquet(Util.scratch("j19_sink"))
    assert(sink.count() ==
      sink.select("a_id", "b_id").distinct().count(),
      "a pair was emitted in more than one micro-batch")
    // both stream files contributed a matched doc (two real batches)
    val sides = sink.select((col("a_id") % 4 === 0).as("s")).distinct().count()
    assert(sides == 2, "matches all came from one micro-batch")
  }

  test("j20 streamed ANN answers equal the batch two-stage per query; each query served once") {
    import graft.ops.LlmOps
    import org.apache.spark.sql.expressions.Window
    val fromStream = StreamOps.j20_stream_ann.fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // batch reference: the SAME two-stage chain run all-queries-at-once
    val e = Tables.t(spark, sfDir, "embeddings")
    val codes = spark.read.parquet(LlmOps.sq8WriteIndex(spark, sfDir))
    val qs = codes.join(e, "vec_id").filter(col("vec_id") % 101 === 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("qvec"))
    val expect = codes.join(broadcast(qs), col("vec_id") =!= col("q_id"))
      .withColumn("approx_sim", col("maxabs") / lit(127.0) *
        aggregate(zip_with(col("qarr"), col("qvec"),
          (qc, v) => qc * v.cast("double")), lit(0.0), (a, x) => a + x))
      .withColumn("rk", row_number().over(Window.partitionBy("q_id")
        .orderBy(desc("approx_sim"), asc("vec_id"))))
      .filter(col("rk") <= 50).select("q_id", "vec_id", "qvec")
      .join(e, "vec_id")
      .withColumn("sim", round(graft.functions.VectorFunctions.dot(
        col("embedding"), col("qvec")), 6))
      .withColumn("rk", row_number().over(Window.partitionBy("q_id")
        .orderBy(desc("sim"), asc("vec_id"))))
      .filter(col("rk") <= 3)
      .select("q_id", "vec_id", "sim")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(fromStream.toSet == expect.toSet,
      s"stream ANN diverges: got ${fromStream.length}, expect ${expect.length}")
    assert(expect.nonEmpty, "vacuous j20 fixture: no queries matched")
    // every arriving query produced exactly 3 answers, exactly once
    val perQ = fromStream.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perQ.values.forall(_ == 3), s"per-query answer counts: $perQ")
    // both stream files contributed queries (two real batches)
    val sides = fromStream.map(_._1 % 2).distinct
    assert(sides.length == 2, "queries all came from one micro-batch")
  }

  test("j21 IVF-pruned stream ANN equals the batch cell-pruned two-stage per query") {
    import graft.ops.LlmOps
    import org.apache.spark.sql.expressions.Window
    val fromStream = StreamOps.j21_stream_ann_ivf.fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // batch reference: ivfBatchStage1 run all-queries-at-once (the helper
    // IS the per-batch plan, so this pins batch/stream parity of the
    // pruned chain) + the exact re-rank
    val e = Tables.t(spark, sfDir, "embeddings")
    val idx = LlmOps.sq8WriteIndexIvf(spark, sfDir)
    val qs = spark.read.parquet(idx).join(e, "vec_id")
      .filter(col("vec_id") % 101 === 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("qvec"))
      .localCheckpoint()
    val expect = StreamOps.ivfBatchStage1(spark, idx, qs)
      .join(e, "vec_id")
      .withColumn("sim", round(graft.functions.VectorFunctions.dot(
        col("embedding"), col("qvec")), 6))
      .withColumn("rk", row_number().over(Window.partitionBy("q_id")
        .orderBy(desc("sim"), asc("vec_id"))))
      .filter(col("rk") <= 3)
      .select("q_id", "vec_id", "sim")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(expect.nonEmpty, "vacuous j21 fixture: no queries matched")
    assert(fromStream.toSet == expect.toSet,
      s"stream IVF ANN diverges: got ${fromStream.length}, expect ${expect.length}")
    val perQ = fromStream.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perQ.values.forall(_ == 3), s"per-query answer counts: $perQ")
    val sides = fromStream.map(_._1 % 2).distinct
    assert(sides.length == 2, "queries all came from one micro-batch")
  }

  test("j22 serves the LEARNED index: batch/stream parity and genuinely different cells than j21") {
    import graft.ops.LlmOps
    import org.apache.spark.sql.expressions.Window
    val fromStream = StreamOps.j22_stream_ann_kmeans.fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val e = Tables.t(spark, sfDir, "embeddings")
    val idx = LlmOps.sq8WriteIndexKmeans(spark, sfDir)
    val qs = e.filter(col("vec_id") % 101 === 3)
      .withColumn("maxq", LlmOps.sqMaxAbs).filter(col("maxq") > 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("qvec"))
      .localCheckpoint()
    val expect = StreamOps.ivfBatchStage1(spark, idx, qs)
      .join(e, "vec_id")
      .withColumn("sim", round(graft.functions.VectorFunctions.dot(
        col("embedding"), col("qvec")), 6))
      .withColumn("rk", row_number().over(Window.partitionBy("q_id")
        .orderBy(desc("sim"), asc("vec_id"))))
      .filter(col("rk") <= 3)
      .select("q_id", "vec_id", "sim")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(expect.nonEmpty && fromStream.toSet == expect.toSet,
      s"learned-index stream serving diverges: ${fromStream.length} vs ${expect.length}")
    // and it really is a DIFFERENT index: the learned coarse quantizer
    // prunes different cells, so the top-3 sets must not be identical
    // to j21's across the whole query set (if they were, j22 would be
    // silently reading the label artifact)
    val fromLabel = StreamOps.j21_stream_ann_ivf.fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(fromStream.toSet != fromLabel.toSet,
      "learned-index serving returned the label index's answers verbatim")
  }

  test("j21 per-batch probe plans a PARTITION filter over the cell union, centroids from the artifact") {
    import graft.ops.LlmOps
    import spark.implicits._
    val idx = LlmOps.sq8WriteIndexIvf(spark, sfDir)
    // a literal one-query batch (LocalTableScan): the arriving stream
    // carries its own vectors, so NO float-table path may appear in the
    // stage-1 plan — the r9 #2 'done' condition
    val qrow = Tables.t(spark, sfDir, "embeddings")
      .filter(col("vec_id") === 7).select("vec_id", "embedding")
      .collect().head
    val qb = Seq((qrow.getLong(0), qrow.getSeq[Float](1)))
      .toDF("q_id", "qvec")
    val stage1 = StreamOps.ivfBatchStage1(spark, idx, qb)
    val plan = stage1.queryExecution.executedPlan.toString
    // `cell` is the family-wide partition column since r13 (the SQ8
    // artifacts joined the IVF-PQ/residual convention — r12 verdict #5)
    assert(plan.contains("PartitionFilters") && {
      val pf = plan.substring(plan.indexOf("PartitionFilters"))
        .takeWhile(_ != ']')
      pf.contains("cell")
    }, s"batch cell probe did not plan as a partition filter:\n${plan.take(1500)}")
    assert(!plan.contains("embeddings.parquet"),
      s"stage-1 batch plan scans the float corpus:\n${plan.take(1500)}")
    assert(stage1.count() > 0)
  }

  test("j23 serves the IVF-PQ index: batch/stream parity and a real PQ probe (differs from j22)") {
    import graft.ops.LlmOps
    import org.apache.spark.sql.expressions.Window
    val fromStream = StreamOps.j23_stream_ann_ivfpq.fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val e = Tables.t(spark, sfDir, "embeddings")
    val idx = LlmOps.pqIvfWriteIndex(spark, sfDir)
    val cb = LlmOps.pqCbDir(LlmOps.pqWriteIndex(spark, sfDir))
    val cent = LlmOps.sq8IvfCentDir(LlmOps.sq8WriteIndexKmeans(spark, sfDir))
    val qs = e.filter(col("vec_id") % 101 === 3)
      .withColumn("maxq", LlmOps.sqMaxAbs).filter(col("maxq") > 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("qvec"))
      .localCheckpoint()
    val expect = StreamOps.pqIvfBatchStage1(spark, idx, cb, cent, qs)
      .join(e, "vec_id")
      .withColumn("sim", round(graft.functions.VectorFunctions.dot(
        col("embedding"), col("qvec")), 6))
      .withColumn("rk", row_number().over(Window.partitionBy("q_id")
        .orderBy(desc("sim"), asc("vec_id"))))
      .filter(col("rk") <= 3)
      .select("q_id", "vec_id", "sim")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(expect.nonEmpty && fromStream.toSet == expect.toSet,
      s"IVF-PQ stream serving diverges: ${fromStream.length} vs ${expect.length}")
    // every survivor must come from its query's OWN top-2 learned cells
    // (the per-query restriction, not just the batch union). NOTE: at
    // THIS fixture scale the probed cells hold < 50 vectors, so the
    // ADC cut keeps them all and j23's final answers legitimately
    // coincide with j22's — the receipt that the metric is genuinely
    // the 8-byte ADC is the sf0.1 oracle gate, where the cut bites and
    // 16/60 answers differ from j22's (plus the plan pin below: no
    // qarr/maxabs in the probed scan).
    val qcells = StreamOps.ivfBatchCells(spark, cent, qs, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val cellOf = spark.read.parquet(idx)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val s1 = StreamOps.pqIvfBatchStage1(spark, idx, cb, cent, qs)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(s1.nonEmpty && s1.forall { case (q, v) =>
      qcells.contains((q, cellOf(v)))
    }, "a survivor came from outside its query's own probed cells")
  }

  test("j23 per-batch probe: PARTITION filter over the cell union, 8-byte codes, no float path") {
    import graft.ops.LlmOps
    import spark.implicits._
    val idx = LlmOps.pqIvfWriteIndex(spark, sfDir)
    val cb = LlmOps.pqCbDir(LlmOps.pqWriteIndex(spark, sfDir))
    val cent = LlmOps.sq8IvfCentDir(LlmOps.sq8WriteIndexKmeans(spark, sfDir))
    val qrow = Tables.t(spark, sfDir, "embeddings")
      .filter(col("vec_id") === 7).select("vec_id", "embedding")
      .collect().head
    val qb = Seq((qrow.getLong(0), qrow.getSeq[Float](1)))
      .toDF("q_id", "qvec")
    val stage1 = StreamOps.pqIvfBatchStage1(spark, idx, cb, cent, qb)
    val plan = stage1.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && {
      val pf = plan.substring(plan.indexOf("PartitionFilters"))
        .takeWhile(_ != ']')
      pf.contains("cell")
    }, s"batch cell probe did not plan as a partition filter:\n${plan.take(1500)}")
    assert(!plan.contains("embeddings.parquet"),
      s"stage-1 batch plan scans the float corpus:\n${plan.take(1500)}")
    // the probed index scan reads codes only — SQ8's qarr/maxabs must
    // not appear (that would mean the wrong artifact is being served)
    assert(!plan.contains("qarr") && !plan.contains("maxabs"),
      s"stage-1 batch plan reads SQ8 columns:\n${plan.take(1500)}")
    assert(stage1.count() > 0)
  }

  test("j23 per-batch probe short-circuits an all-filtered batch (the ivfBatchStage1 ADVICE case, PQ variant)") {
    import graft.ops.LlmOps
    import spark.implicits._
    val idx = LlmOps.pqIvfWriteIndex(spark, sfDir)
    val cb = LlmOps.pqCbDir(LlmOps.pqWriteIndex(spark, sfDir))
    val cent = LlmOps.sq8IvfCentDir(LlmOps.sq8WriteIndexKmeans(spark, sfDir))
    // a micro-batch whose queries were ALL guard-filtered upstream:
    // zero rows must yield zero survivors, not an empty-isin plan or
    // an exception from the bounded cell collect
    val empty = Seq.empty[(Long, Seq[Float])].toDF("q_id", "qvec")
    val out = StreamOps.pqIvfBatchStage1(spark, idx, cb, cent, empty)
    assert(out.columns.toSeq == Seq("q_id", "vec_id", "qvec"))
    assert(out.count() == 0)
  }

  test("j10 MapState persists ACROSS micro-batches (two-file source)") {
    // The gate runs j10 as one AvailableNow batch; this drives the SAME
    // processor over TWO batches (two files, maxFilesPerTrigger=1) and
    // proves the typed MapState carries counts between them: in update
    // mode every batch emits its running snapshot, so the LAST emission
    // per (user, type) must equal the full batch groupBy count — which
    // only holds if batch 2 resumed from batch 1's state.
    import spark.implicits._
    val events = Tables.t(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val dir = Util.scratch("j10_two_files")
    events.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/f0")
    events.filter(col("event_id") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/f1")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val src = spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(dir)
        .as[graft.ops.StreamOps.Ev]
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val out = src.groupByKey(_.user_id)
        .transformWithState(new graft.ops.StreamOps.TypeCountProcessor,
          TimeMode.None(), OutputMode.Update())
      val ckpt = new java.io.File(Util.scratch("ckpt_j10_two"))
      Util.deleteRecursively(ckpt)
      val q = out.toDF().writeStream.format("memory").queryName("p_j10_two")
        .outputMode("update")
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val sink = spark.table("p_j10_two")
      // counts only grow ⇒ last emission per key = max n
      val finalCounts = sink.groupBy("user_id", "event_type").agg(max("n").as("n"))
      val expected = events.groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
      assert(finalCounts.exceptAll(expected).isEmpty &&
        expected.exceptAll(finalCounts).isEmpty,
        "cross-batch state did not accumulate")
      // and the sink really saw MORE emissions than final keys (≥2 batches)
      assert(sink.count() > expected.count(), "source did not split into two batches")
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("j15 streaming crossmatch equals batch d13 on the same catalogs") {
    val stream = StreamOps.j15_stream_xmatch.fn(spark, sfDir)
    val batch = graft.ops.RelOps.d13_join_xmatch.fn(spark, sfDir)
    assertSameRows(batch, stream)
    // vacuous-green guard + the statelessness contract is implicit: the
    // harness runs append mode, which Spark REJECTS at start() if any
    // unwatermarked aggregation state had crept into the plan
    assert(stream.count() > 0, "fixture produced no stream matches (vacuous)")
  }

  test("j16 stream chunking equals batch i58 row-for-row") {
    val stream = StreamOps.j16_stream_chunk.fn(spark, sfDir)
    val batch = graft.ops.CorpusOps.i58_chunk_overlap.fn(spark, sfDir)
    assertSameRows(batch, stream)
    // multi-chunk docs flowed through the stream (overlap exercised), and
    // append mode rejecting stateful plans at start() proves statelessness
    assert(stream.filter(org.apache.spark.sql.functions.col("chunk_id") > 0)
      .count() > 0, "stream saw only single-chunk docs (vacuous)")
  }

  test("j24 serves the RESIDUAL index: batch/stream parity, survivors from own cells") {
    import graft.ops.LlmOps
    import org.apache.spark.sql.expressions.Window
    val fromStream = StreamOps.j24_stream_ann_rivfpq.fn(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val e = Tables.t(spark, sfDir, "embeddings")
    val idx = LlmOps.pqrWriteIndex(spark, sfDir)
    val cent = LlmOps.sq8IvfCentDir(LlmOps.sq8WriteIndexKmeans(spark, sfDir))
    val qs = e.filter(col("vec_id") % 101 === 3)
      .withColumn("maxq", LlmOps.sqMaxAbs).filter(col("maxq") > 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("qvec"),
        expr("transform(embedding, x -> CAST(floor(x * 1000) AS BIGINT))")
          .as("qq"))
      .localCheckpoint()
    val stage1 = LlmOps.pqrBatchTop(spark, idx, cent, qs, 50)
    val expect = stage1
      .join(e, "vec_id")
      .join(broadcast(qs.select("q_id", "qvec")), "q_id")
      .withColumn("sim", round(graft.functions.VectorFunctions.dot(
        col("embedding"), col("qvec")), 6))
      .withColumn("rk", row_number().over(Window.partitionBy("q_id")
        .orderBy(desc("sim"), asc("vec_id"))))
      .filter(col("rk") <= 3)
      .select("q_id", "vec_id", "sim")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(expect.nonEmpty && fromStream.toSet == expect.toSet,
      s"residual stream serving diverges: ${fromStream.length} vs ${expect.length}")
    // per-query cell restriction (the j23 pin, on the residual artifact)
    val qcells = StreamOps.ivfBatchCells(spark, cent, qs, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val cellOf = spark.read.parquet(idx)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val s1 = stage1.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(s1.nonEmpty && s1.forall { case (q, v) =>
      qcells.contains((q, cellOf(v)))
    }, "a survivor came from outside its query's own probed cells")
  }
}
