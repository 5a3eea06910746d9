package graft

/** Regression gate for the count-pruned bench-row audit (PlanAudit): the
  * committed `Flagged` set must equal what the audit derives at HEAD, in
  * BOTH directions — a newly-prunable key must be added (its bench row
  * just stopped timing the operator), and a key that stopped being
  * prunable must be removed (its forced count is now redundant).
  *
  * Streaming (j*) keys are exempt: their work executes inside the
  * micro-batch harness when the frame is built, so a count over the
  * result prunes nothing that was timed — and building all 18 harnesses
  * here would dominate the suite for no audit signal.
  */
class PlanAuditSpec extends SparkTestBase {

  test("committed count-pruned flag list matches the audit at HEAD") {
    val audited = SparkEntry.queries.toSeq
      .filterNot(_._1.startsWith("j"))
      .sortBy(_._1)
    val derived = audited.flatMap { case (key, fn) =>
      val drops = PlanAudit.drops(fn(spark, sfDir))
      if (drops.nonEmpty) Some(key -> drops.mkString(", ")) else None
    }.toMap
    val extra = derived.keySet -- PlanAudit.Flagged
    val stale = PlanAudit.Flagged -- derived.keySet
    assert(extra.isEmpty,
      s"keys newly pruned under .count() — add to PlanAudit.Flagged and " +
        s"time them through PlanAudit.force: ${extra.toSeq.sorted.map(k =>
          s"$k (${derived(k)})").mkString("; ")}")
    assert(stale.isEmpty,
      s"keys no longer pruned — remove from PlanAudit.Flagged: " +
        s"${stale.toSeq.sorted.mkString(", ")}")
    // the two r7-known cases stay the canary pair
    assert(PlanAudit.Flagged.contains("d20_xmatch_best") &&
      PlanAudit.Flagged.contains("i52_contamination_report"))
  }

  test("force() restores the dropped stages to the counted plan") {
    PlanAudit.Flagged.toSeq.sorted.take(5).foreach { key =>
      val df = SparkEntry.queries(key)(spark, sfDir)
      assert(PlanAudit.drops(df).nonEmpty, s"$key: fixture not prunable?")
      assert(PlanAudit.drops(PlanAudit.force(df)).isEmpty,
        s"$key: forcing left stages prunable")
    }
  }

  test("i63 stage 1 probes the persisted SQ8 index codes-only") {
    import graft.ops.LlmOps
    val dir = LlmOps.sq8WriteIndex(spark, sfDir)
    // the artifact's on-disk schema has no float column at all
    val codes = spark.read.parquet(dir)
    assert(codes.schema.fieldNames.sorted.toSeq ==
      Seq("maxabs", "qarr", "vec_id"))
    val stage1 = LlmOps.sq8CodesTop50(codes,
      LlmOps.sq8QueryVec(spark, sfDir, 7L))
    val plan = stage1.queryExecution.executedPlan.toString
    assert(plan.contains("i63_sq8"),
      "stage 1 must scan the persisted index dir")
    // "embedding" matches both the float column and the embeddings table
    // path — neither may appear anywhere under the approx top-50
    assert(!plan.contains("embedding"),
      s"stage-1 plan touches the float side:\n${plan.take(1200)}")
    assert(stage1.count() == 50)
  }

  test("i64 stage 1 is BOTH partition-pruned (IVF) and codes-only (SQ8)") {
    import graft.ops.LlmOps
    import org.apache.spark.sql.functions.col
    val dir = LlmOps.sq8WriteIndexIvf(spark, sfDir)
    val codes = spark.read.parquet(dir)
    // codes-only on disk; the cell id rides the directory layout, not
    // the rows (and is named `cell` — the family-wide convention)
    assert(codes.schema.fieldNames.sorted.toSeq ==
      Seq("cell", "maxabs", "qarr", "vec_id"))
    val stage1 = LlmOps.sq8CodesTop50(
      codes.filter(col("cell").isin(0, 1)),
      LlmOps.sq8QueryVec(spark, sfDir, 7L))
    val plan = stage1.queryExecution.executedPlan.toString
    assert(plan.contains("i64_sq8ivf"),
      "stage 1 must scan the persisted IVF-partitioned index dir")
    assert(!plan.contains("embedding"),
      s"stage-1 plan touches the float side:\n${plan.take(1200)}")
    // the cell probe must reach the scan as a PARTITION filter — the
    // directory-pruning lever the layout exists for (a literal IN over
    // the partition column, not a post-scan Filter)
    assert(plan.contains("PartitionFilters") && {
      val pf = plan.substring(plan.indexOf("PartitionFilters"))
        .takeWhile(_ != ']')
      pf.contains("cell")
    }, s"cell probe did not plan as a partition filter:\n${plan.take(1200)}")
  }

  test("i64 cell ranking reads the PERSISTED centroid artifact, not the corpus") {
    import graft.ops.LlmOps
    val dir = LlmOps.sq8WriteIndexIvf(spark, sfDir)
    // the k×64 centroid table is an index-BUILD-time artifact (r9 #1)
    val cent = spark.read.parquet(LlmOps.sq8IvfCentDir(dir))
    assert(cent.schema.fieldNames.sorted.toSeq == Seq("c", "cell", "pos"))
    val k = cent.select("cell").distinct().count()
    assert(cent.count() == k * 64, s"expected ${k}×64 centroid rows")
    val rank = LlmOps.ivfCellRank(spark, dir,
      LlmOps.sq8QueryVec(spark, sfDir, 7L))
    val plan = rank.queryExecution.executedPlan.toString
    assert(plan.contains("_cent"),
      "cell ranking must scan the persisted centroid dir")
    // "embedding" matches both the float column and the embeddings table
    // path — the r9 'weak' finding was exactly this scan appearing here;
    // the ranking plan must touch NOTHING but the k×64 artifact and the
    // 64-row query literal
    assert(!plan.contains("embedding"),
      s"cell-ranking plan scans the float corpus:\n${plan.take(1200)}")
    assert(rank.count() == 2)
  }

  test("i69 ADC stage 1 scans ONLY the PQ codes table — no codebook, no float path") {
    import graft.ops.LlmOps
    val dir = LlmOps.pqWriteIndex(spark, sfDir)
    val codes = spark.read.parquet(dir)
    // the on-disk index is codes-only: 8 small ints per vector
    assert(codes.schema.fieldNames.sorted.toSeq ==
      Seq("codes", "label", "vec_id"))
    val stage1 = LlmOps.pqCodesTop(codes,
      LlmOps.pqAdcLit(spark, dir, LlmOps.pqQueryGrid(spark, sfDir, 7L)),
      50, 7L)
    val plan = stage1.queryExecution.executedPlan.toString
    assert(plan.contains("i69_pq"),
      "stage 1 must scan the persisted PQ codes dir")
    // the ADC table is a literal built from the constant-size codebook:
    // neither the codebook dir nor any float path may appear in the plan
    assert(!plan.contains("_cb"),
      s"stage-1 plan scans the codebook:\n${plan.take(1200)}")
    assert(!plan.contains("embedding"),
      s"stage-1 plan touches the float side:\n${plan.take(1200)}")
    assert(stage1.count() == 50)
  }

  test("i73 filtered ANN: the metadata predicate PUSHES INTO the codes scan") {
    import graft.ops.LlmOps
    import org.apache.spark.sql.functions.col
    val dir = LlmOps.pqWriteIndex(spark, sfDir)
    val stage1 = LlmOps.pqCodesTop(
      spark.read.parquet(dir).filter(col("label") < 5),
      LlmOps.pqAdcLit(spark, dir, LlmOps.pqQueryGrid(spark, sfDir, 7L)),
      50, 7L)
    val plan = stage1.queryExecution.executedPlan.toString
    // the predicate must reach the parquet scan as a pushed filter —
    // the design decision (metadata rides the index row) made a plan
    // property instead of prose
    assert(plan.contains("PushedFilters") && {
      val pf = plan.substring(plan.indexOf("PushedFilters"))
        .takeWhile(_ != ']')
      pf.contains("label")
    }, s"metadata predicate not pushed into the codes scan:\n${plan.take(1500)}")
    assert(!plan.contains("embedding"),
      s"stage-1 plan touches the float side:\n${plan.take(1200)}")
    // every survivor satisfies the predicate — the cut ranks the
    // FILTERED pool, it does not filter the cut
    val out = LlmOps.i73_sim_ann_filtered.fn(spark, sfDir).collect()
    assert(out.length == 10 && out.forall(_.getInt(1) < 5))
    // a predicate that eliminates the whole pool degrades to zero
    // rows, not an error — the service returns "no eligible results"
    val none = LlmOps.pqCodesTop(
      spark.read.parquet(dir).filter(col("label") < -1),
      LlmOps.pqAdcLit(spark, dir, LlmOps.pqQueryGrid(spark, sfDir, 7L)),
      50, 7L)
    assert(none.count() == 0)
  }

  test("i71 stage 1 is BOTH partition-pruned (learned IVF) and 8-byte-codes-only (PQ)") {
    import graft.ops.LlmOps
    import org.apache.spark.sql.functions.col
    val dir = LlmOps.pqIvfWriteIndex(spark, sfDir)
    val codes = spark.read.parquet(dir)
    // the cell id is `cell`, NOT `label` — `label` is the i69 codes
    // artifact's METADATA column (i73's filter target); the two
    // artifacts must not share a name for different meanings
    assert(codes.schema.fieldNames.sorted.toSeq ==
      Seq("cell", "codes", "vec_id"))
    val stage1 = LlmOps.pqCodesTop(
      codes.filter(col("cell").isin(0, 1)),
      LlmOps.pqAdcLit(spark, LlmOps.pqWriteIndex(spark, sfDir),
        LlmOps.pqQueryGrid(spark, sfDir, 7L)), 50, 7L)
    val plan = stage1.queryExecution.executedPlan.toString
    assert(plan.contains("i71_ivfpq"),
      "stage 1 must scan the persisted IVF-PQ dir")
    assert(!plan.contains("embedding") && !plan.contains("_cb"),
      s"stage-1 plan touches the float side or codebook:\n${plan.take(1200)}")
    // the cell probe must reach the scan as a PARTITION filter (the
    // directory-pruning lever), same as i64's assertion
    assert(plan.contains("PartitionFilters") && {
      val pf = plan.substring(plan.indexOf("PartitionFilters"))
        .takeWhile(_ != ']')
      pf.contains("cell")
    }, s"cell probe did not plan as a partition filter:\n${plan.take(1200)}")
  }

  test("i75 stage 1: partition-pruned residual codes, cell term a LITERAL, no float path") {
    import graft.ops.LlmOps
    import org.apache.spark.sql.functions.{col, element_at, typedLit}
    val dir = LlmOps.pqrWriteIndex(spark, sfDir)
    val codes = spark.read.parquet(dir)
    assert(codes.schema.fieldNames.sorted.toSeq ==
      Seq("cell", "codes", "label", "vec_id"))
    val kmIdx = LlmOps.sq8WriteIndexKmeans(spark, sfDir)
    val qq = LlmOps.pqQueryGrid(spark, sfDir, 7L)
    val stage1 = LlmOps.codesTopK(
      codes.filter(col("cell").isin(0, 1)),
      LlmOps.adcLitFrom(spark, LlmOps.pqrCbDir(dir), qq, LlmOps.PqrK),
      50, 7L, LlmOps.PqrK,
      cellTerm = element_at(
        typedLit(LlmOps.cellDotMap(spark, kmIdx, qq, Seq(0, 1))), col("cell")))
    val plan = stage1.queryExecution.executedPlan.toString
    assert(plan.contains("i75_rivfpq"),
      "stage 1 must scan the persisted residual IVF-PQ dir")
    // ADC table AND the per-cell centroid terms are literals built from
    // constant-size artifacts: no codebook scan, no centroid scan, no
    // float path anywhere under the approx cut
    assert(!plan.contains("embedding") && !plan.contains("_cb") &&
      !plan.contains("_cent"),
      s"stage-1 plan touches a non-codes table:\n${plan.take(1200)}")
    assert(plan.contains("PartitionFilters") && {
      val pf = plan.substring(plan.indexOf("PartitionFilters"))
        .takeWhile(_ != ']')
      pf.contains("cell")
    }, s"cell probe did not plan as a partition filter:\n${plan.take(1200)}")
  }

  test("i79 stage 1: BOTH scan levers on ONE scan - cell partition filter AND pushed label filter") {
    import graft.ops.LlmOps
    import org.apache.spark.sql.functions.{col, element_at, typedLit}
    val dir = LlmOps.pqrWriteIndex(spark, sfDir)
    val kmIdx = LlmOps.sq8WriteIndexKmeans(spark, sfDir)
    val qq = LlmOps.pqQueryGrid(spark, sfDir, 7L)
    val stage1 = LlmOps.codesTopK(
      spark.read.parquet(dir)
        .filter(col("cell").isin(0, 1)).filter(col("label") < 5),
      LlmOps.adcLitFrom(spark, LlmOps.pqrCbDir(dir), qq, LlmOps.PqrK),
      50, 7L, LlmOps.PqrK,
      cellTerm = element_at(
        typedLit(LlmOps.cellDotMap(spark, kmIdx, qq, Seq(0, 1))), col("cell")))
    val plan = stage1.queryExecution.executedPlan.toString
    assert(plan.contains("i75_rivfpq"),
      "stage 1 must scan the persisted residual IVF-PQ dir")
    assert(!plan.contains("embedding") && !plan.contains("_cb") &&
      !plan.contains("_cent"),
      s"stage-1 plan touches a non-codes table:\n${plan.take(1200)}")
    val pf = plan.substring(plan.indexOf("PartitionFilters")).takeWhile(_ != ']')
    assert(plan.contains("PartitionFilters") && pf.contains("cell"),
      s"cell probe did not plan as a partition filter:\n${plan.take(1200)}")
    val push = plan.substring(plan.indexOf("PushedFilters")).takeWhile(_ != ']')
    assert(plan.contains("PushedFilters") && push.contains("label"),
      s"metadata predicate not pushed into the codes scan:\n${plan.take(1500)}")
    // filter-before-cut: every emitted row satisfies the predicate
    val out = LlmOps.i79_sim_ann_rivfpq_filtered.fn(spark, sfDir).collect()
    assert(out.length == 10 && out.forall(_.getInt(1) < 5))
  }

  test("i84/j27 stage 1: the tombstone anti-join rides the pruned codes scan - broadcast, no extra pass") {
    import graft.ops.LlmOps
    import org.apache.spark.sql.functions.{broadcast, col, element_at, typedLit}
    val dir = LlmOps.pqrWriteIndex(spark, sfDir)
    val kmIdx = LlmOps.sq8WriteIndexKmeans(spark, sfDir)
    val qq = LlmOps.pqQueryGrid(spark, sfDir, 7L)
    val tomb = Tables.t(spark, sfDir, "embeddings")
      .filter(col("vec_id") % 13 === 2).select("vec_id")
    val stage1 = LlmOps.codesTopK(
      spark.read.parquet(dir).filter(col("cell").isin(0, 1))
        .join(broadcast(tomb), Seq("vec_id"), "left_anti"),
      LlmOps.adcLitFrom(spark, LlmOps.pqrCbDir(dir), qq, LlmOps.PqrK),
      50, 7L, LlmOps.PqrK,
      cellTerm = element_at(
        typedLit(LlmOps.cellDotMap(spark, kmIdx, qq, Seq(0, 1))), col("cell")))
    val plan = stage1.queryExecution.executedPlan.toString
    // the delete path must not change the scan posture: still the
    // partition-pruned codes-only scan, the deletion log a BROADCAST
    // anti-join (a shuffled anti-join would re-partition the scan by
    // vec_id - the side table is index metadata, never data-sized)
    assert(plan.contains("i75_rivfpq"))
    val pf = plan.substring(plan.indexOf("PartitionFilters")).takeWhile(_ != ']')
    assert(plan.contains("PartitionFilters") && pf.contains("cell"),
      s"tombstoned probe lost the partition filter:\n${plan.take(1200)}")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"tombstone exclusion is not a broadcast anti-join:\n${plan.take(1500)}")
    assert(!plan.contains("SortMergeJoin"),
      "the deletion log forced a sort-merge join into the probe")
  }
}
