package graft.ops

import graft.{OpQuery, Par, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY §2 group B — the fits2db conversion pipeline semantics (SURVEY
  * §1.2): column-name normalization for DDL, type widening, null sentinels,
  * NaN policy, TSCAL/TZERO scaling, array expand/explode, synthetic keys,
  * exact dedup and load-validation checksums.
  *
  * All of these are narrow (shuffle-free) column expressions except b8/b10 —
  * they whole-stage-codegen into a single fused stage, which is the Spark
  * analog of fits2db's constant-memory chunk loop (SURVEY §3.2 E2).
  */
object EtlOps {

  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  /** SQL reserved words a FITS column name must not collide with (subset
    * sufficient for DDL emission; matched case-insensitively after
    * normalization).
    */
  private val Reserved = Set(
    "select", "from", "where", "group", "order", "by", "table", "create",
    "insert", "update", "delete", "join", "union", "all", "and", "or",
    "not", "null", "true", "false", "case", "when", "then", "else", "end",
    "as", "on", "user", "index", "primary", "key", "default", "values")

  /** fits2db DDL name policy: lowercase, non-[a-z0-9_] → '_', digit-lead
    * prefixed, reserved words suffixed, duplicates numbered.
    */
  def normalizeName(raw: String): String = {
    val lower = raw.toLowerCase.replaceAll("[^a-z0-9_]", "_")
    val led = if (lower.isEmpty || lower.head.isDigit) "_" + lower else lower
    if (Reserved(led)) led + "_" else led
  }

  def normalizeColumns(df: DataFrame): DataFrame = {
    // Dedup against ALL names assigned so far, not a per-base counter —
    // otherwise ("A", "A 2", "a") → (a, a_2, a_2): a numbered duplicate can
    // collide with a column whose base already IS base_N.
    val used = scala.collection.mutable.Set.empty[String]
    val cols = df.columns.map { c =>
      val base = normalizeName(c)
      var name = base
      var k = 2
      while (used(name)) { name = s"${base}_$k"; k += 1 }
      used += name
      col(s"`$c`").as(name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** b1: ugly header names → normalized DDL names (oracle declares the
    * expected post-normalization schema directly).
    */
  val b1_colname_normalize = OpQuery(
    (s, d) => {
      val ugly = t(s, d, "events").select(
        col("event_id").as("Event ID"),
        col("event_type").as("Event-Type"),
        col("value").as("select"),
        col("user_id").as("2user"))
      normalizeColumns(ugly).orderBy("event_id")
    },
    """SELECT event_id, event_type, value AS select_, user_id AS _2user
      |FROM events ORDER BY event_id""".stripMargin)

  /** b2: FITS TFORM widening (short→int, int→long, float→double — §1.2).
    * The unsigned-64 widening goes through DECIMAL(20,0) (the only type that
    * holds TZERO=2^63 offsets) but the DUMPED cell is re-cast to BIGINT:
    * parquet decimal128 vs DuckDB decimal reach the driver's row-hash
    * through different pandas representations and hash-mismatch even when
    * values are equal (r1 gate failure). Values here are < 2^63 so the
    * round-trip is lossless.
    */
  val b2_type_cast_widen = OpQuery(
    (s, d) => t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_linenumber").cast(LongType).as("l_linenumber_w"),
        col("l_quantity").cast(DoubleType).as("l_quantity_w"),
        col("l_partkey").cast(DecimalType(20, 0)).cast(LongType).as("l_partkey_u64"))
      .orderBy("l_orderkey", "l_linenumber", "l_quantity_w", "l_partkey_u64"),
    """SELECT l_orderkey, l_linenumber,
      |  CAST(l_linenumber AS BIGINT) AS l_linenumber_w,
      |  CAST(l_quantity AS DOUBLE) AS l_quantity_w,
      |  CAST(CAST(l_partkey AS DECIMAL(20,0)) AS BIGINT) AS l_partkey_u64
      |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_quantity_w, l_partkey_u64""".stripMargin)

  /** TNULL sentinel → NULL. */
  def nullSentinel(c: Column, sentinel: Long): Column =
    when(c === lit(sentinel), lit(null)).otherwise(c)

  val b3_null_sentinel = OpQuery(
    (s, d) => t(s, d, "nation")
      .select(col("n_nationkey"),
        nullSentinel(col("n_regionkey"), 0L).as("n_regionkey_n"))
      .orderBy("n_nationkey"),
    """SELECT n_nationkey, nullif(n_regionkey, 0) AS n_regionkey_n
      |FROM nation ORDER BY n_nationkey""".stripMargin)

  /** fits2db float policy: NaN/±Inf → SQL NULL. */
  def nanToNull(c: Column): Column =
    when(isnan(c) || c === lit(Double.PositiveInfinity) ||
      c === lit(Double.NegativeInfinity), lit(null)).otherwise(c)

  /** b4: NaN/Inf injected deterministically, then scrubbed. */
  val b4_nan_to_null = OpQuery(
    (s, d) => t(s, d, "lineitem")
      .withColumn("disc_dirty",
        when(col("l_linenumber") === 3, lit(Double.NaN))
          .when(col("l_linenumber") === 4, lit(Double.PositiveInfinity))
          .otherwise(col("l_discount")))
      .select(col("l_orderkey"), col("l_linenumber"),
        nanToNull(col("disc_dirty")).as("disc_clean"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), asc_nulls_last("disc_clean")),
    """SELECT l_orderkey, l_linenumber,
      |  CASE WHEN l_linenumber = 3 OR l_linenumber = 4 THEN NULL ELSE l_discount END AS disc_clean
      |FROM lineitem ORDER BY l_orderkey, l_linenumber, disc_clean ASC NULLS LAST""".stripMargin)

  /** TSCAL/TZERO: physical = raw × scale + zero. */
  def scaleZero(c: Column, scale: Double, zero: Double): Column =
    c * lit(scale) + lit(zero)

  val b5_scale_zero = OpQuery(
    (s, d) => t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        scaleZero(col("l_quantity"), 0.5, 100.0).as("qty_phys"))
      .orderBy("l_orderkey", "l_linenumber", "qty_phys"),
    """SELECT l_orderkey, l_linenumber, l_quantity * 0.5 + 100.0 AS qty_phys
      |FROM lineitem ORDER BY 1, 2, 3""".stripMargin)

  /** b6: fixed-repeat array cell → scalar columns col_1..col_n (fits2db
    * array-expansion mode). First 8 of the 64 dims.
    */
  val b6_array_expand = OpQuery(
    (s, d) => {
      val expanded = (0 until 8).map(i =>
        round(col("embedding")(i).cast(DoubleType), 6).as(s"e_${i + 1}"))
      t(s, d, "embeddings")
        .select(col("vec_id") +: expanded: _*)
        .orderBy("vec_id")
    },
    "SELECT vec_id, " +
      (1 to 8).map(i => s"round(CAST(embedding[$i] AS DOUBLE), 6) AS e_$i").mkString(", ") +
      " FROM embeddings ORDER BY vec_id")

  /** b7: array cell → one row per element (SQL-array mode). */
  val b7_array_explode = OpQuery(
    (s, d) => t(s, d, "embeddings")
      .filter(col("vec_id") < 5)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("pos").cast(LongType).as("pos"),
        round(col("v").cast(DoubleType), 6).as("val"))
      .orderBy("vec_id", "pos"),
    """SELECT vec_id, CAST(r.i - 1 AS BIGINT) AS pos,
      |  round(CAST(embedding[r.i] AS DOUBLE), 6) AS val
      |FROM embeddings, range(1, 65) r(i)
      |WHERE vec_id < 5 ORDER BY vec_id, pos""".stripMargin)

  /** b8: serial primary key (fits2db --pkey), scale-safe form: range-
    * partition by the business key, sort within partitions, then assign
    * (partition-local ordinal + per-partition prefix offset) via
    * Convert.addStablePkey. Equivalent to row_number() OVER (ORDER BY key)
    * — RangePartitioner's partitions are ordered by id — but no row ever
    * passes through a single global-window task, so the plan survives a
    * 100 TB input (the r1 global-window form did not).
    */
  val b8_add_pkey = OpQuery(
    (s, d) => graft.ingest.Convert.addStablePkey(
        t(s, d, "nation")
          .repartitionByRange(col("n_nationkey"))
          .sortWithinPartitions("n_nationkey"))
      .select("pkey", "n_nationkey", "n_name")
      .orderBy("pkey"),
    """SELECT CAST(row_number() OVER (ORDER BY n_nationkey) AS BIGINT) AS pkey,
      |  n_nationkey, n_name
      |FROM nation ORDER BY pkey""".stripMargin)

  /** b9: Data-Lab-style random_id ∈ [0,100) — engine-portable multiplicative
    * hash surrogate (rand() can never hash-match across engines).
    */
  val b9_add_random_id = OpQuery(
    (s, d) => t(s, d, "customer")
      .select(col("c_custkey"),
        (col("c_custkey") * lit(2654435761L) % lit(100L)).as("random_id"))
      .orderBy("c_custkey"),
    """SELECT c_custkey, (c_custkey * 2654435761) % 100 AS random_id
      |FROM customer ORDER BY c_custkey""".stripMargin)

  /** b10: exact dedup on append — keep min(doc_id) per text (deterministic
    * representative). Also the north-star exact text dedup (8 planted dups
    * at sf0.1). Hash-groupBy ⇒ one shuffle on the dedup key; at 100 TB
    * pre-hash the text to a 128-bit key so the shuffle carries 16 bytes,
    * not document bodies (see LlmOps for the near-dup path).
    */
  val b10_dedupe_exact = OpQuery(
    (s, d) => t(s, d, "documents")
      .groupBy("text")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
      .orderBy("doc_id"),
    """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
      |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin)

  /** b11: whole-table load-validation fingerprint, engine-neutral form. */
  val b11_checksum_table = OpQuery(
    (s, d) => t(s, d, "lineitem").agg(
      count(lit(1)).as("n_rows"),
      sum(col("l_orderkey")).as("sum_okey"),
      sum(col("l_linenumber").cast(LongType)).as("sum_ln"),
      Par.dsum(col("l_quantity")).as("sum_qty"),
      Par.dsum(col("l_extendedprice")).as("sum_price"),
      countDistinct(col("l_orderkey")).as("n_orders")),
    s"""SELECT count(*) AS n_rows, CAST(sum(l_orderkey) AS BIGINT) AS sum_okey,
       |  CAST(sum(l_linenumber) AS BIGINT) AS sum_ln,
       |  ${Par.dsumSql("l_quantity")} AS sum_qty,
       |  ${Par.dsumSql("l_extendedprice")} AS sum_price,
       |  count(DISTINCT l_orderkey) AS n_orders
       |FROM lineitem""".stripMargin)

  /** b12: CDC-style snapshot merge (upsert + delete) — apply a changeset
    * (deterministically derived from the snapshot here: deletes %13,
    * updates %7, inserts as key+10⁹) in one pass: broadcast-able update
    * join + anti-join for deletes + union of inserts. At 100 TB the
    * snapshot never re-sorts: both joins are equi-joins on the primary
    * key, so a key-bucketed snapshot layout (a9) makes the merge
    * shuffle-free on the big side; the changeset (a day's CDC feed)
    * broadcasts.
    */
  val b12_merge_upsert = OpQuery(
    (s, d) => {
      val snap = t(s, d, "orders")
      val key = col("o_orderkey")
      val dels = snap.filter(key % 13 === 0).select(key.as("del_key"))
      val ups = snap.filter(key % 13 =!= 0 && key % 7 === 0)
        .select(key.as("up_key"), lit("X").as("up_status"),
          lit("9-RECLASS").as("up_priority"))
      val ins = snap.filter(key % 17 === 0)
        .select((key + 1000000000L).as("o_orderkey"), col("o_custkey"),
          lit("N").as("o_orderstatus"), col("o_totalprice"),
          col("o_orderdate"), lit("1-URGENT").as("o_orderpriority"),
          lit("insert").as("op"))
      snap
        .join(broadcast(dels), key === col("del_key"), "left_anti")
        .join(broadcast(ups), key === col("up_key"), "left_outer")
        .select(key, col("o_custkey"),
          coalesce(col("up_status"), col("o_orderstatus")).as("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"),
          coalesce(col("up_priority"), col("o_orderpriority"))
            .as("o_orderpriority"),
          when(col("up_key").isNotNull, "update").otherwise("keep").as("op"))
        .unionByName(ins)
        .orderBy("o_orderkey")
    },
    """WITH ups AS (
      |  SELECT o_orderkey AS up_key, 'X' AS up_status, '9-RECLASS' AS up_priority
      |  FROM orders WHERE o_orderkey % 13 <> 0 AND o_orderkey % 7 = 0),
      |ins AS (
      |  SELECT o_orderkey + 1000000000 AS o_orderkey, o_custkey,
      |    'N' AS o_orderstatus, o_totalprice, o_orderdate,
      |    '1-URGENT' AS o_orderpriority, 'insert' AS op
      |  FROM orders WHERE o_orderkey % 17 = 0)
      |SELECT s.o_orderkey, s.o_custkey,
      |  coalesce(u.up_status, s.o_orderstatus) AS o_orderstatus,
      |  s.o_totalprice, s.o_orderdate,
      |  coalesce(u.up_priority, s.o_orderpriority) AS o_orderpriority,
      |  CASE WHEN u.up_key IS NOT NULL THEN 'update' ELSE 'keep' END AS op
      |FROM orders s LEFT JOIN ups u ON s.o_orderkey = u.up_key
      |WHERE s.o_orderkey % 13 <> 0
      |UNION ALL
      |SELECT * FROM ins
      |ORDER BY o_orderkey""".stripMargin)

  /** b13: schema evolution across dataset generations — the corpus-refresh
    * reality that an old crawl snapshot lacks columns a newer one carries.
    * Two parquet generations are written with different schemas (gen1:
    * id+text only; gen2: +lang, +n_chars), then read as ONE dataset with
    * mergeSchema — missing columns surface as NULL, no rewrite of the old
    * generation. At 100 TB this is the only affordable evolution strategy
    * (schema-on-read; rewriting history is a full-corpus job). The
    * explicit post-read select pins column order — merge order follows
    * file listing order, which is not a contract.
    */
  val b13_schema_evolution = OpQuery(
    (s, d) => {
      val docs = t(s, d, "documents")
      val gen1 = graft.Util.scratch("b13_gen1")
      val gen2 = graft.Util.scratch("b13_gen2")
      docs.filter(col("doc_id") % 2 === 0).select("doc_id", "text")
        .write.mode("overwrite").parquet(gen1)
      docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text", "lang", "n_chars")
        .write.mode("overwrite").parquet(gen2)
      s.read.option("mergeSchema", "true").parquet(gen1, gen2)
        .select("doc_id", "text", "lang", "n_chars")
        .orderBy("doc_id")
    },
    """SELECT doc_id, text,
      |  CASE WHEN doc_id % 2 = 1 THEN lang END AS lang,
      |  CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin)

  /** b14: SCD2 (slowly-changing-dimension type 2) history — the other
    * half of the warehouse change-capture pair (b12 is the overwrite
    * upsert): applying a changes batch to a dimension CLOSES the old row
    * (valid_to = new version, is_current = false) and appends the new
    * version, preserving full history for as-of queries. The changes
    * batch is synthesized deterministically (c_custkey % 10 == 3 gets
    * +100 balance — the i30 planting convention, same construction in
    * the oracle); versions are integers (engine-portable; wall-clock
    * timestamps would never hash-match).
    *
    * Shape at scale: one equi-join of the dimension with the (small)
    * changes batch — broadcast here, plain hash join when the batch is
    * large; the history append is a union, no extra shuffle. Narrow
    * after the join.
    */
  /** The b14 SCD2 history frame (c_custkey, version, acctbal, valid_from,
    * valid_to, is_current) — shared by the b14 gate and d17's
    * point-in-time join (one construction, one planted changeset).
    */
  private[graft] def scd2History(s: SparkSession, d: String): DataFrame = {
    val dim = t(s, d, "customer").select(col("c_custkey"), col("c_acctbal"))
    val changes = dim.filter(col("c_custkey") % 10 === 3)
      .select(col("c_custkey"), (col("c_acctbal") + 100.0).as("new_bal"))
    val j = dim.join(broadcast(changes), Seq("c_custkey"), "left")
    val v1 = j.select(col("c_custkey"), lit(1L).as("version"),
      col("c_acctbal").as("acctbal"), lit(1L).as("valid_from"),
      when(col("new_bal").isNotNull, lit(2L)).as("valid_to"),
      col("new_bal").isNull.as("is_current"))
    val v2 = j.filter(col("new_bal").isNotNull)
      .select(col("c_custkey"), lit(2L).as("version"),
        col("new_bal").as("acctbal"), lit(2L).as("valid_from"),
        lit(null).cast(LongType).as("valid_to"), lit(true).as("is_current"))
    v1.unionAll(v2)
  }

  /** The d19 three-version SCD2 history: a dimension CREATED at version 2
    * (valid_from of the initial load is 2, not 1 — so facts with an
    * earlier as-of point genuinely predate the dimension), changed at
    * version 3 (c_custkey % 10 == 3: +100) and again at version 4
    * (c_custkey % 5 == 3, which CONTAINS the %10==3 class: +200 on the
    * then-current balance) — so %10==3 customers carry three versions,
    * %10==8 two, the rest one. Intervals partition [2, ∞) per key;
    * nothing covers as-of < 2. Same construction in the d19 oracle.
    */
  private[graft] def scd2History3(s: SparkSession, d: String): DataFrame = {
    val dim = t(s, d, "customer").select(col("c_custkey"), col("c_acctbal"))
    val v2 = dim.select(col("c_custkey"), lit(2L).as("version"),
      col("c_acctbal").as("acctbal"), lit(2L).as("valid_from"),
      when(col("c_custkey") % 10 === 3, lit(3L))
        .when(col("c_custkey") % 5 === 3, lit(4L))
        .cast(LongType).as("valid_to"))
    val v3 = dim.filter(col("c_custkey") % 10 === 3)
      .select(col("c_custkey"), lit(3L).as("version"),
        (col("c_acctbal") + 100.0).as("acctbal"), lit(3L).as("valid_from"),
        lit(4L).cast(LongType).as("valid_to"))
    val v4 = dim.filter(col("c_custkey") % 5 === 3)
      .select(col("c_custkey"), lit(4L).as("version"),
        when(col("c_custkey") % 10 === 3, col("c_acctbal") + 300.0)
          .otherwise(col("c_acctbal") + 200.0).as("acctbal"),
        lit(4L).as("valid_from"), lit(null).cast(LongType).as("valid_to"))
    v2.unionAll(v3).unionAll(v4)
  }

  val b14_scd2_history = OpQuery(
    (s, d) => scd2History(s, d).orderBy("c_custkey", "version"),
    """WITH ch AS (SELECT c_custkey, c_acctbal + 100.0 AS new_bal
      |           FROM customer WHERE c_custkey % 10 = 3),
      |j AS (SELECT c.c_custkey, c.c_acctbal, ch.new_bal
      |      FROM customer c LEFT JOIN ch USING (c_custkey))
      |SELECT c_custkey, CAST(1 AS BIGINT) AS version, c_acctbal AS acctbal,
      |  CAST(1 AS BIGINT) AS valid_from,
      |  CASE WHEN new_bal IS NOT NULL THEN CAST(2 AS BIGINT) END AS valid_to,
      |  new_bal IS NULL AS is_current
      |FROM j
      |UNION ALL
      |SELECT c_custkey, CAST(2 AS BIGINT), new_bal, CAST(2 AS BIGINT),
      |  CAST(NULL AS BIGINT), true
      |FROM j WHERE new_bal IS NOT NULL
      |ORDER BY c_custkey, version""".stripMargin)

  /** b15: snapshot-isolated (time-travel) reads — the lakehouse table
    * primitive (Iceberg/Delta's core idea) in its minimal honest form:
    * every commit writes NEW data files plus an immutable per-version
    * MANIFEST naming exactly the files in that snapshot; a reader pins a
    * version by reading its manifest and loading only those files, so
    * later commits — even ones racing the read — cannot change what a
    * pinned query sees (b12/b13/b14 cover change capture; this covers
    * "read yesterday's table while today is being written"). The gate
    * commits v1, then commits v2 (an append), then READS v1 — proving
    * the old snapshot stays intact under the newer write. Manifests are
    * bounded driver-side metadata (a file list, never data — the
    * offset-table pattern); data files never rewrite (i54's append-only
    * discipline), so commit cost ∝ the delta.
    */
  val b15_snapshot_read = OpQuery(
    (s, d) => {
      val base = graft.Util.scratch(
        s"b15_table_${d.replaceAll("[^a-zA-Z0-9]", "_")}")
      val orders = t(s, d, "orders")
      orders.filter(col("o_orderkey") % 3 === 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$base/data/add1")
      writeManifest(s"$base/v1.manifest", Seq(s"$base/data/add1"))
      // commit 2: append-only — new files + a new manifest; v1's manifest
      // and files are untouched
      orders.filter(col("o_orderkey") % 3 === 1)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$base/data/add2")
      writeManifest(s"$base/v2.manifest",
        Seq(s"$base/data/add1", s"$base/data/add2"))
      // time travel: pin v1 although v2 exists
      s.read.parquet(readManifest(s"$base/v1.manifest"): _*)
        .orderBy("o_orderkey")
    },
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_orderkey % 3 = 0 ORDER BY o_orderkey""".stripMargin)

  private[graft] def writeManifest(path: String, dirs: Seq[String]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      dirs.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** OCC commit of a snapshot version — the b15 manifest protocol made
    * safe for CONCURRENT writers (the r12 verdict's missing #3: nothing
    * detected two committers racing the version counter — the lakehouse
    * lost-update failure mode optimistic concurrency control exists
    * for): the version file is created ATOMICALLY (CREATE_NEW = POSIX
    * O_CREAT|O_EXCL — atomic on local/POSIX filesystems; distributed
    * stores need the store's own conditional-put for the same guarantee
    * — NFSv2 lacks atomic exclusive-create, and object stores implement
    * it as e.g. S3 If-None-Match / GCS if-generation-match, which is
    * where a production lakehouse would plug in), so of
    * two writers racing the same version number exactly one wins and
    * the loser fails LOUDLY with FileAlreadyExistsException instead of
    * silently clobbering the winner's manifest. The loser's protocol is
    * read-latest → rebase its file list → retry at version+1; the
    * refusal (not the retry policy) is the table format's contract.
    * The single-writer gate fixture keeps `writeManifest` (reps
    * overwrite their own manifests); any concurrent committer must go
    * through THIS. EtlOpsSpec races two threads and pins one winner,
    * one typed loser, and an uncorrupted surviving manifest.
    */
  private[graft] def commitManifest(path: String, dirs: Seq[String]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      dirs.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE_NEW)

  /** A manifest's file list, read through the session's Hadoop FS. */
  private[graft] def readManifest(path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val in = p.getFileSystem(graft.fits.FitsTable.driverHadoopConf()).open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").toSeq.filter(_.nonEmpty)
    finally in.close()
  }

  /** b16: cascading erasure (the GDPR forget-me shape) — delete a set of
    * customers and propagate through the foreign-key chain: their orders
    * go, and those orders' lineitems go. The forget set is planted
    * deterministically (c_custkey % 97 — the i30 convention, same
    * construction in the oracle); the output is the per-table erasure
    * audit (before/deleted/after counts + a key checksum of the SURVIVING
    * rows, so a wrong-row deletion changes the hash, not just the count).
    *
    * Shape at scale: the forget set is broadcast by construction (erasure
    * requests are human-scale against a 100 TB corpus) — the customer and
    * orders passes are broadcast anti/left joins, narrow on the fact
    * side. The orders→lineitem hop uses the DERIVED deleted-orders set,
    * which scales with the forget set, NOT forced broadcast — it's a
    * plain equi-join AQE downgrades to broadcast when small (the i41
    * no-broadcast-assumption rule). One scan per table; the flagged
    * orders projection is localCheckpoint'ed because both the orders
    * audit and the lineitem cascade read it (the i37 shared-base
    * convention).
    */
  val b16_cascade_delete = OpQuery(
    (s, d) => {
      val cust = t(s, d, "customer")
      val del = cust.filter(col("c_custkey") % 97 === 0)
        .select(col("c_custkey").as("k"))
      val og = t(s, d, "orders")
        .join(broadcast(del), col("o_custkey") === col("k"), "left")
        .select(col("o_orderkey"), col("k").isNotNull.as("gone"))
        .localCheckpoint()
      val lg = t(s, d, "lineitem")
        .join(og.filter(col("gone")).select(col("o_orderkey").as("ok")),
          col("l_orderkey") === col("ok"), "left")
        .select(col("l_orderkey"), col("ok").isNotNull.as("gone"))
      def audit(name: String, flagged: DataFrame): DataFrame = flagged
        .agg(count(lit(1)).as("n_before"),
          sum(when(col("gone"), 1L).otherwise(0L)).as("n_deleted"),
          sum(when(!col("gone"), col("key"))).as("sum_key_after"))
        .select(lit(name).as("tbl"), col("n_before"), col("n_deleted"),
          (col("n_before") - col("n_deleted")).as("n_after"),
          col("sum_key_after"))
      audit("customer", cust.select(col("c_custkey").as("key"),
          (col("c_custkey") % 97 === 0).as("gone")))
        .unionAll(audit("orders",
          og.select(col("o_orderkey").as("key"), col("gone"))))
        .unionAll(audit("lineitem",
          lg.select(col("l_orderkey").as("key"), col("gone"))))
        .orderBy("tbl")
    },
    """WITH del AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 0),
      |og AS (SELECT o_orderkey, o_custkey IN (SELECT k FROM del) AS gone FROM orders),
      |lg AS (SELECT l_orderkey,
      |         l_orderkey IN (SELECT o_orderkey FROM og WHERE gone) AS gone
      |       FROM lineitem),
      |u AS (
      |  SELECT 'customer' AS tbl, CAST(count(*) AS BIGINT) AS n_before,
      |    CAST(count(*) FILTER (WHERE c_custkey % 97 = 0) AS BIGINT) AS n_deleted,
      |    CAST(sum(c_custkey) FILTER (WHERE c_custkey % 97 <> 0) AS BIGINT) AS sum_key_after
      |  FROM customer
      |  UNION ALL
      |  SELECT 'orders', CAST(count(*) AS BIGINT),
      |    CAST(count(*) FILTER (WHERE gone) AS BIGINT),
      |    CAST(sum(o_orderkey) FILTER (WHERE NOT gone) AS BIGINT)
      |  FROM og
      |  UNION ALL
      |  SELECT 'lineitem', CAST(count(*) AS BIGINT),
      |    CAST(count(*) FILTER (WHERE gone) AS BIGINT),
      |    CAST(sum(l_orderkey) FILTER (WHERE NOT gone) AS BIGINT)
      |  FROM lg)
      |SELECT tbl, n_before, n_deleted, n_before - n_deleted AS n_after,
      |  sum_key_after
      |FROM u ORDER BY tbl""".stripMargin)

  /** b17: declarative constraint audit — the load-validation contract
    * table (the dbt-test / expectations shape, and fits2db's implicit
    * promise: what landed in the DB is what the file said): NOT NULL,
    * UNIQUE, FK and RANGE expectations each audited to a violation
    * count over a staging frame. The fixture corpus is clean, so a
    * staging copy plants one defect class per expectation (the i30
    * convention, same construction in the oracle; the %31 NULL takes
    * precedence over the %37 orphan in BOTH CASE chains): NULL custkeys,
    * out-of-domain FK orphans, negated prices, and appended duplicate
    * keys. Violations are counted, never dropped — an audit that
    * repairs silently is how bad loads go unnoticed; routing/repair is
    * the caller's policy (a22's quarantine argument at table scope).
    *
    * Shape at scale: NOT NULL / RANGE are narrow map-side counts;
    * UNIQUE is count − countDistinct (one expand-free aggregate, no
    * per-key groupBy materialization); FK is a left-anti join against
    * the parent keys (broadcast here, shuffle join when the parent is
    * big). The staging frame is localCheckpoint'ed — FIVE consumers
    * (four audits + the total) would otherwise replay the corruption
    * lineage each (the i37 shared-base convention).
    */
  val b17_constraint_audit = OpQuery(
    (s, d) => {
      val c0 = t(s, d, "orders")
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 31 === 0, lit(null).cast(LongType))
            // negate, don't offset: c_custkey is positive at every scale
            // factor, so -k is out-of-domain by construction — a fixed
            // +1e9 offset would collide with real keys at large SFs and
            // silently deflate the orphan class
            .when(col("o_orderkey") % 37 === 0, -col("o_custkey"))
            .otherwise(col("o_custkey")).as("k"),
          when(col("o_orderkey") % 43 === 0, -col("o_totalprice"))
            .otherwise(col("o_totalprice")).as("p"))
      val staged = c0.unionAll(c0.filter(col("o_orderkey") % 41 === 0))
        .localCheckpoint()
      val parent = t(s, d, "customer").select(col("c_custkey"))
      def audit(name: String, violations: DataFrame): DataFrame =
        violations.agg(count(lit(1)).as("n_violations"))
          .select(lit(name).as("constraint_name"), col("n_violations"))
      audit("not_null_custkey", staged.filter(col("k").isNull))
        .unionAll(audit("fk_custkey", staged.filter(col("k").isNotNull)
          .join(broadcast(parent), col("k") === col("c_custkey"), "left_anti")))
        .unionAll(audit("range_totalprice", staged.filter(col("p") < 0)))
        .unionAll(staged.agg(
          (count(lit(1)) - countDistinct(col("o_orderkey"))).as("n_violations"))
          .select(lit("unique_orderkey").as("constraint_name"),
            col("n_violations")))
        .crossJoin(broadcast(
          staged.agg(count(lit(1)).as("n_rows_checked"))))
        .orderBy("constraint_name")
    },
    """WITH c0 AS (SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 31 = 0 THEN NULL
      |         WHEN o_orderkey % 37 = 0 THEN -o_custkey
      |         ELSE o_custkey END AS k,
      |    CASE WHEN o_orderkey % 43 = 0 THEN -o_totalprice
      |         ELSE o_totalprice END AS p
      |  FROM orders),
      |staged AS (SELECT * FROM c0
      |           UNION ALL SELECT * FROM c0 WHERE o_orderkey % 41 = 0),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_rows_checked FROM staged),
      |v AS (
      |  SELECT 'not_null_custkey' AS constraint_name,
      |    CAST(count(*) AS BIGINT) AS n_violations FROM staged WHERE k IS NULL
      |  UNION ALL
      |  SELECT 'fk_custkey', CAST(count(*) AS BIGINT) FROM staged
      |  WHERE k IS NOT NULL AND k NOT IN (SELECT c_custkey FROM customer)
      |  UNION ALL
      |  SELECT 'range_totalprice', CAST(count(*) AS BIGINT) FROM staged WHERE p < 0
      |  UNION ALL
      |  SELECT 'unique_orderkey',
      |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) FROM staged)
      |SELECT constraint_name, n_violations, tot.n_rows_checked
      |FROM v CROSS JOIN tot
      |ORDER BY constraint_name""".stripMargin)

  /** b18: one-pass table profile — the ANALYZE/data-quality step a load
    * pipeline runs after every ingest: row count, per-column null count,
    * EXACT distinct count, min/max (stringified so mixed-type columns
    * share one schema), unpivoted to a row per column. ONE scan of the
    * table: all per-column aggregates ride the same Aggregate (the
    * multi-distinct rewrites to a single Expand — rows×columns map-side,
    * one shuffle total, no per-column re-scan). At 100 TB exact distinct
    * is the knob to watch: the Expand multiplies shuffle rows by the
    * profiled-column count, so a wide profile swaps count(DISTINCT) for
    * approx_count_distinct (e4's accuracy-gated sketch) — the shape here
    * is the exact form a nightly audit wants on load-sized deltas.
    */
  val b18_table_profile = {
    val profCols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    OpQuery(
      (s, d) => {
        val aggs = profCols.flatMap { c => Seq(
          count(col(c)).as(s"${c}__nn"),
          countDistinct(col(c)).as(s"${c}__nd"),
          min(col(c)).cast(StringType).as(s"${c}__min"),
          max(col(c)).cast(StringType).as(s"${c}__max")) }
        t(s, d, "orders")
          .agg(count(lit(1)).as("n_rows"), aggs: _*)
          .select(col("n_rows"), explode(array(profCols.map(c => struct(
            lit(c).as("column_name"),
            col(s"${c}__nn").as("nn"),
            col(s"${c}__nd").as("n_distinct"),
            col(s"${c}__min").as("min_str"),
            col(s"${c}__max").as("max_str"))): _*)).as("p"))
          .select(col("p.column_name"), col("n_rows"),
            (col("n_rows") - col("p.nn")).as("n_null"),
            col("p.n_distinct"), col("p.min_str"), col("p.max_str"))
          .orderBy("column_name")
      },
      profCols.map { c =>
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
           |  count(*) - count($c) AS n_null,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_str,
           |  CAST(max($c) AS VARCHAR) AS max_str
           |FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name"))
  }

  /** The b19 sketch pass alone: ONE Aggregate with NO Expand — approx
    * sketches need no distinct rewrite, so the shuffle carries one sketch
    * per column instead of rows×columns Expand output. Split out so the
    * spec can assert THIS subplan (the 100 TB plan) is Expand-free; the
    * gated op joins it to an exact-distinct anchor that a production
    * profile drops.
    */
  private[graft] def profileSketchAgg(df: org.apache.spark.sql.DataFrame,
      profCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    val aggs = profCols.flatMap { c => Seq(
      count(col(c)).as(s"${c}__nn"),
      approx_count_distinct(col(c), rsd = 0.01).as(s"${c}__ad"),
      min(col(c)).cast(StringType).as(s"${c}__min"),
      max(col(c)).cast(StringType).as(s"${c}__max")) }
    df.agg(count(lit(1)).as("n_rows"), aggs: _*)
  }

  /** b19: the table profile AT 100 TB — b18's own Scaladoc names the
    * swap ("a wide profile swaps count(DISTINCT) for
    * approx_count_distinct"); this key makes the swap a gated plan
    * instead of prose. The SKETCH pass is one Aggregate with NO Expand
    * (plan-asserted): per column it carries a non-null count, an HLL++
    * sketch (rsd 0.01), and stringified min/max — so the one shuffle
    * moves sketches, not rows×columns. The estimate itself is
    * engine-specific, so the gate follows e4's convention: a SECOND
    * exact-distinct aggregate (the anchor a production profile drops)
    * cross-joins in and the gated column is the ±5% accuracy predicate —
    * both engines attest it (DuckDB asserts `true` having no sketch to
    * test), and a sketch drifting outside its envelope fails the HASH
    * gate, not just a unit test. rsd 0.01 against a 5% gate = 5 standard
    * deviations (e4's argument).
    */
  /** The full b19 frame over any table: sketch pass + exact-distinct
    * anchor + ±5% predicate, unpivoted to a row per column. Shared by
    * the gated key and PrepMain's `--profile` stage.
    */
  private[graft] def profileSketchFrame(df: org.apache.spark.sql.DataFrame,
      profCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    val sketch = profileSketchAgg(df, profCols)
    val exactAggs = profCols.map(c => countDistinct(col(c)).as(s"${c}__nd"))
    val exact = df.agg(exactAggs.head, exactAggs.tail: _*)
    sketch.crossJoin(exact)
      .select(col("n_rows"), explode(array(profCols.map(c => struct(
        lit(c).as("column_name"),
        col(s"${c}__nn").as("nn"),
        col(s"${c}__nd").as("n_distinct"),
        (abs(col(s"${c}__ad") - col(s"${c}__nd")).cast(DoubleType) <=
          lit(0.05) * col(s"${c}__nd").cast(DoubleType)).as("within_5pct"),
        col(s"${c}__min").as("min_str"),
        col(s"${c}__max").as("max_str"))): _*)).as("p"))
      .select(col("p.column_name"), col("n_rows"),
        (col("n_rows") - col("p.nn")).as("n_null"),
        col("p.n_distinct"), col("p.within_5pct"),
        col("p.min_str"), col("p.max_str"))
      .orderBy("column_name")
  }

  val b19_profile_sketch = {
    val profCols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    OpQuery(
      (s, d) => profileSketchFrame(t(s, d, "orders"), profCols),
      profCols.map { c =>
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
           |  count(*) - count($c) AS n_null,
           |  count(DISTINCT $c) AS n_distinct, true AS within_5pct,
           |  CAST(min($c) AS VARCHAR) AS min_str,
           |  CAST(max($c) AS VARCHAR) AS max_str
           |FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name"))
  }

  val all: Map[String, OpQuery] = Map(
    "b19_profile_sketch" -> b19_profile_sketch,
    "b18_table_profile" -> b18_table_profile,
    "b17_constraint_audit" -> b17_constraint_audit,
    "b16_cascade_delete" -> b16_cascade_delete,
    "b15_snapshot_read" -> b15_snapshot_read,
    "b14_scd2_history" -> b14_scd2_history,
    "b13_schema_evolution" -> b13_schema_evolution,
    "b1_colname_normalize" -> b1_colname_normalize,
    "b2_type_cast_widen" -> b2_type_cast_widen,
    "b3_null_sentinel" -> b3_null_sentinel,
    "b4_nan_to_null" -> b4_nan_to_null,
    "b5_scale_zero" -> b5_scale_zero,
    "b6_array_expand" -> b6_array_expand,
    "b7_array_explode" -> b7_array_explode,
    "b8_add_pkey" -> b8_add_pkey,
    "b9_add_random_id" -> b9_add_random_id,
    "b10_dedupe_exact" -> b10_dedupe_exact,
    "b11_checksum_table" -> b11_checksum_table,
    "b12_merge_upsert" -> b12_merge_upsert)
}
