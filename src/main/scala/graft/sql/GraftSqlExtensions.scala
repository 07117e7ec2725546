package graft.sql

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftshim.{CosineSim, DotProduct, GraftShims}

import graft.eslog.EsLog
import graft.functions.Portable
import graft.operators.Similarity

/** SQL-surface registration: every graft primitive a SQL-only user needs,
  * callable from `spark.sql(...)` text.
  *
  * Two entry points, same registry:
  *  - at session build: `.config("spark.sql.extensions",
  *    "graft.sql.GraftSqlExtensions")` (the standard extensions hook);
  *  - on a live session: `GraftFunctions.register(spark)` (create-or-replace,
  *    idempotent) — for notebooks and the driver-owned Verify session.
  *
  * Scalar functions (all codegen'd — custom Expressions or compositions of
  * built-ins, no UDFs, so SQL users stay on the 100 TB whole-stage path):
  *  - `graft_dot(a, b)`          — IEEE left-fold dot product
  *  - `graft_cosine(a, b)`       — fused single-pass cosine similarity
  *  - `graft_hash60(x)`          — portable 60-bit md5 hash (BIGINT ≥ 0)
  *  - `graft_hash60(seed, x)`    — seeded family member (seed: literal int)
  *  - `graft_lsh_bucket(v, t, planes, dim)` — hyperplane-LSH sign bucket
  *  - `graft_bloom_slots(x, m, k)` — Bloom slot indices (the
  *    [[graft.operators.Sketch.bloomSketch]] family, SQL-composable)
  *    (t/planes/dim: literal ints; same Rademacher family as
  *    [[graft.operators.Similarity.lshBucket]])
  *  - `graft_rproject(v, out_dim, dim[, t])` — Johnson–Lindenstrauss
  *    Rademacher projection to `out_dim` dims (same family as the LSH
  *    bucket; [[graft.operators.Similarity.randomProject]])
  *  - `graft_kmv(hash, k)`       — KMV distinct-count sketch AGGREGATE: the
  *    k smallest distinct hashes, ascending (bounded state, map-side partials)
  *  - `graft_topk(key, val, k)`  — bounded-state top-k AGGREGATE: k smallest
  *    distinct (key, payload) pairs as ascending struct<k,v> array
  *  - `graft_hll(hash, p)`       — HLL register AGGREGATE: dense 2^p-int
  *    register array (2^p BYTES of state; register-wise-max merge)
  *
  * Table functions (FROM-clause access to eslog streams — the SQL analogue
  * of the reference's FETCH/LIST_RANGE client calls):
  *  - `graft_scan('dir'[, version])`  — full committed scan; with a
  *    version, the snapshot at that commit (time travel — snapshot ids
  *    from `graft_history`)
  *  - `graft_fetch('dir', lo, hi)`    — record batches with
  *    `base_offset + last_offset_delta > lo AND base_offset < hi`
  *    (straddle semantics, manifest-pruned before planning)
  *  - `graft_scan_delta('dir', v1, v2)` — rows appended between two log
  *    versions (offset-delimited incremental read, stable under compaction)
  *  - `graft_fetch_time('dir', from_ms, until_ms)` — time-windowed fetch
  *    through the manifest time index (file pruning + row-group skipping)
  *  - `graft_export_objects('dir'[, lo, hi[, max_bytes]])` — migration-out:
  *    committed data as reference-layout tiered objects
  *  - `graft_export_wal('dir'[, lo, hi[, seg_bytes]])` — migration-out:
  *    fixed-size sealed reference WAL segments, contiguous offsets
  *  - `graft_offset_for_time('dir', ts_ms)` — ListOffsets-by-timestamp:
  *    earliest readable offset with base_timestamp >= ts_ms, one file read
  *  - `graft_group_offset('dir', 'group')` — consumer group's committed
  *    position (OffsetFetch)
  *  - `graft_commit_group_offset('dir', 'group', offset, expected)` —
  *    CAS-fenced position commit (OffsetCommit; NULL expected = first)
  *  - `graft_symlink_manifest('dir'[, version])` — export the snapshot as
  *    a symlink-format manifest for external engines
  *  - `graft_history('dir')`          — the stream's commit history
  *
  * Stream-lifecycle DDL (procedure-style table functions backed by
  * [[graft.eslog.EsCatalog]] — the full CREATE/DELETE/DESCRIBE/LIST stream
  * lifecycle the reference exposes through one client surface,
  * components/replication/src/stream_client.rs:70-98, now reachable from
  * pure SQL; each returns its result row(s)):
  *  - `graft_create_stream('root', 'name'[, retention_ms])` —
  *    create-if-absent (idempotent, like CREATE TABLE IF NOT EXISTS:
  *    analysis may resolve a statement more than once). Row:
  *    (name, stream_id, created). Append to the new stream with
  *    `CREATE TABLE t USING eslog OPTIONS (path '<root>/streams/<name>')
  *    AS SELECT ...` or `df.write.format("eslog")`.
  *  - `graft_create_streams('root', 'n1,n2,...'[, retention_ms])` — BATCH
  *    create-if-absent (the reference's batch-import frame, rpc.fbs:494-496):
  *    one `(name, stream_id, status)` row per name, ids allocated as one
  *    contiguous CAS block, status OK / ALREADY_EXISTS per stream — partial
  *    failure is reported, never thrown
  *  - `graft_delete_streams('root', 'n1,n2,...')` — batch delete;
  *    status OK / NOT_FOUND per name
  *  - `graft_describe_streams('root', 'n1,n2,...')` — batch describe;
  *    unknown names report NOT_FOUND rows instead of failing the batch
  *  - `graft_drop_stream('root', 'name')`     — idempotent; (name, dropped)
  *  - `graft_alter_stream('root', 'name', replica, ack_count,
  *    retention_ms)` — UPDATE_STREAM; NULL leaves a field unchanged
  *    (`-1` stays retention's explicit "unlimited"); commits only an
  *    EFFECTIVE change, so a no-op or re-resolved alter appends nothing
  *  - `graft_describe_stream('root', 'name')` — metadata row
  *  - `graft_list_streams('root')`            — LIST_RESOURCE over streams
  *  - `graft_catalog_scan('root')`            — every stream, ONE relation
  *  - `graft_registry_history('root')`        — registry events + revisions
  *
  * The DDL functions perform their effect when the statement is ANALYZED
  * (table-function builders run at resolution, like the scan functions'
  * manifest loads) — hence the hard idempotence requirement above.
  *
  * Pipeline-operator TVFs (the highest-traffic LLM-data operators from pure
  * SQL over any table/view or parquet path — first arg with a '/' reads
  * parquet, else resolves a table/temp view; the spliced plan is the Scala
  * operator's own):
  *  - `graft_dedup_exact('t', 'id', 'text')`   — exact duplicate groups
  *  - `graft_dedup_minhash('t', 'id', 'text'[, k, num_hashes, bands])` —
  *    MinHash+LSH near-dup candidate pairs
  *  - `graft_text_stats('t', 'id', 'text')`    — per-doc token statistics
  *  - `graft_text_quality('t', 'id', 'text')`  — per-doc quality features
  *  - `graft_text_langid('t', 'id', 'text')`   — marker-voting language id
  *  - `graft_media_dedup_cdc('t', 'id', 'payload'[, ...])` — CDC media
  *    near-dup pairs over opaque binary columns
  *  - `graft_decontaminate('corpus', 'bench', 'id', 'text'[, k])` — exact
  *    shared-gram benchmark overlap per doc
  *  - `graft_decontaminate_fuzzy('corpus', 'bench', 'id', 'text'[, k,
  *    num_hashes, bands, threshold_permille])` — MinHash-banded
  *    benchmark-leak scan, true-Jaccard verified
  */
class GraftSqlExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.scalar.foreach(ext.injectFunction)
    GraftFunctions.table.foreach(ext.injectTableFunction)
    // SQL INSERT INTO an eslog table → the commit protocol, not raw parquet
    // (see org.apache.spark.sql.graftshim.EsLogInsertRewrite)
    ext.injectResolutionRule(_ =>
      org.apache.spark.sql.graftshim.EsLogInsertRewrite.rule)
    // name-addressed streams (spark.sql.catalog.<n> = graft.sql.EsCatalogPlugin):
    // land V2-catalog relations and write shapes on the V1 fast paths
    ext.injectResolutionRule(session =>
      org.apache.spark.sql.graftshim.EsLogV2FallbackRule(session))
    // unfiltered count(*) over an eslog relation answers from the manifest
    // (zero IO, zero tasks — see EsLogMetadataOnlyCount's exactness guards)
    ext.injectOptimizerRule(_ =>
      org.apache.spark.sql.graftshim.EsLogMetadataOnlyCount)
    // execution-time procedure plans (the index-maintenance TVFs + DDL)
    ext.injectPlannerStrategy(_ =>
      org.apache.spark.sql.graftshim.GraftProcedureStrategy)
    // real stream DDL: CREATE/ALTER/DROP/DESCRIBE STREAM, SHOW STREAMS
    // (everything else delegates to Spark's parser — see GraftSqlParser)
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
  }
}

object GraftFunctions {

  /** Fail analysis (not execution) on a bad call: arity and literal-ness are
    * static properties of the SQL text. */
  private def literalInt(e: Expression, fn: String, pos: String): Int = {
    require(e.foldable, s"$fn: $pos must be a literal integer, got $e")
    e.eval(null) match {
      case i: Int   => i
      case l: Long  => math.toIntExact(l)
      case s: Short => s.toInt
      case b: Byte  => b.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: $pos must be a literal integer, got $other")
    }
  }

  private def literalLong(e: Expression, fn: String, pos: String): Long = {
    require(e.foldable, s"$fn: $pos must be a literal integer, got $e")
    e.eval(null) match {
      case l: Long => l
      case i: Int  => i.toLong
      case other => throw new IllegalArgumentException(
        s"$fn: $pos must be a literal integer, got $other")
    }
  }

  private def literalString(e: Expression, fn: String, pos: String): String = {
    require(e.foldable, s"$fn: $pos must be a literal string, got $e")
    val v = e.eval(null)
    require(v != null, s"$fn: $pos must be a non-null literal string")
    v.toString
  }

  private def arity(fn: String, args: Seq[Expression], n: Int*): Unit =
    require(n.contains(args.size),
      s"$fn expects ${n.mkString(" or ")} arguments, got ${args.size}")

  // the (className, db, name) constructor is the one non-deprecated short
  // form; usage text lives in the scaladoc above instead
  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(GraftFunctions.getClass.getCanonicalName, null, name)

  /** Scalar descriptions in `injectFunction` shape. */
  val scalar: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot"),
      info("graft_dot", "graft_dot(a, b) - dot product of two double arrays"),
      (args: Seq[Expression]) => { arity("graft_dot", args, 2)
        DotProduct(args(0), args(1)) }),
    (FunctionIdentifier("graft_cosine"),
      info("graft_cosine", "graft_cosine(a, b) - cosine similarity of two double arrays"),
      (args: Seq[Expression]) => { arity("graft_cosine", args, 2)
        CosineSim(args(0), args(1)) }),
    (FunctionIdentifier("graft_rproject"),
      info("graft_rproject",
        "graft_rproject(vec, out_dim, dim[, table]) - Johnson-Lindenstrauss " +
          "Rademacher projection of a double array to out_dim dims, scaled " +
          "1/sqrt(out_dim) (out_dim/dim/table literals)"),
      (args: Seq[Expression]) => { arity("graft_rproject", args, 3, 4)
        val outDim = literalInt(args(1), "graft_rproject", "out_dim")
        val dim = literalInt(args(2), "graft_rproject", "dim")
        val t = if (args.size == 4) literalInt(args(3), "graft_rproject", "table") else 0
        GraftShims.convertedExpr(Similarity.randomProject(
          GraftShims.column(args(0)), outDim, dim, t)) }),
    (FunctionIdentifier("graft_hash60"),
      info("graft_hash60",
        "graft_hash60(x) / graft_hash60(seed, x) - portable 60-bit md5 hash as non-negative BIGINT"),
      (args: Seq[Expression]) => { arity("graft_hash60", args, 1, 2)
        val c =
          if (args.size == 1) Portable.hash60(GraftShims.column(args(0)))
          else Portable.hash60(literalInt(args(0), "graft_hash60", "seed"),
            GraftShims.column(args(1)))
        GraftShims.convertedExpr(c) }),
    (FunctionIdentifier("graft_kmv"),
      info("graft_kmv",
        "graft_kmv(hash_col, k) - KMV sketch: the k smallest distinct BIGINT values, ascending array (k literal)"),
      (args: Seq[Expression]) => { arity("graft_kmv", args, 2)
        val k = literalInt(args(1), "graft_kmv", "k")
        // an AggregateFunction from a registry builder is wrapped in its
        // AggregateExpression by the analyzer (the built-in registration path)
        org.apache.spark.sql.graftshim.KmvAgg(args(0), k) }),
    (FunctionIdentifier("graft_hll"),
      info("graft_hll",
        "graft_hll(hash_col, p) - HyperLogLog registers over a 60-bit hash: dense array<int> of length 2^p, index = bucket, value = register (p literal)"),
      (args: Seq[Expression]) => { arity("graft_hll", args, 2)
        val p = literalInt(args(1), "graft_hll", "p")
        org.apache.spark.sql.graftshim.HllAgg(args(0), p) }),
    (FunctionIdentifier("graft_quantile_sample"),
      info("graft_quantile_sample",
        "graft_quantile_sample(hash_col, value_col, k) - bottom-k-by-hash quantile sample: values of the k smallest distinct (hash, value) BIGINT pairs, ascending array (k literal); read ranks with element_at"),
      (args: Seq[Expression]) => { arity("graft_quantile_sample", args, 3)
        val k = literalInt(args(2), "graft_quantile_sample", "k")
        org.apache.spark.sql.graftshim.QuantileSampleAgg(args(0), args(1), k) }),
    (FunctionIdentifier("graft_topk"),
      info("graft_topk",
        "graft_topk(sort_key, payload, k) - k lexicographically smallest distinct (key, payload) BIGINT pairs, ascending array of struct<k,v> (k literal)"),
      (args: Seq[Expression]) => { arity("graft_topk", args, 3)
        val k = literalInt(args(2), "graft_topk", "k")
        org.apache.spark.sql.graftshim.TopKAgg(args(0), args(1), k) }),
    (FunctionIdentifier("graft_lsh_bucket"),
      info("graft_lsh_bucket",
        "graft_lsh_bucket(vec, table, planes, dim) - hyperplane-LSH sign bucket (table/planes/dim literal ints)"),
      (args: Seq[Expression]) => { arity("graft_lsh_bucket", args, 4)
        val t = literalInt(args(1), "graft_lsh_bucket", "table")
        val p = literalInt(args(2), "graft_lsh_bucket", "planes")
        val d = literalInt(args(3), "graft_lsh_bucket", "dim")
        GraftShims.convertedExpr(Similarity.lshBucket(GraftShims.column(args(0)), t, p, d)) }),
    (FunctionIdentifier("graft_bloom_slots"),
      info("graft_bloom_slots",
        "graft_bloom_slots(x, m, k) - x's k Bloom slot indices in [0, m) (m/k literal ints); build a sketch with SELECT DISTINCT explode(...), probe with all-slots-present"),
      (args: Seq[Expression]) => { arity("graft_bloom_slots", args, 3)
        val m = literalInt(args(1), "graft_bloom_slots", "m")
        val k = literalInt(args(2), "graft_bloom_slots", "k")
        require(m >= 2 && k >= 1, "graft_bloom_slots: need m >= 2 and k >= 1")
        val hm = Portable.uhashBase(GraftShims.column(args(0)))
        GraftShims.convertedExpr(org.apache.spark.sql.functions.array(
          (0 until k).map(i => Portable.uhash(i, hm) % m): _*)) }))

  /** Table-function descriptions in `injectTableFunction` shape. The stream
    * directory (and bounds) must be literals: the builder runs at analysis
    * time on the driver, where it loads the manifest and splices the pruned
    * scan plan into the enclosing query. */
  val table: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan)] = Seq(
    (FunctionIdentifier("graft_scan"),
      info("graft_scan",
        "graft_scan('dir'[, version]) - committed scan of an eslog stream; " +
          "with a version, the snapshot at that commit (time travel — " +
          "versions from graft_history)"),
      (args: Seq[Expression]) => { arity("graft_scan", args, 1, 2)
        val dir = literalString(args(0), "graft_scan", "dir")
        if (args.size == 1) GraftShims.analyzedPlan(EsLog.scan(active(), dir))
        else GraftShims.analyzedPlan(EsLog.scanAt(active(), dir,
          literalLong(args(1), "graft_scan", "version"))) }),
    (FunctionIdentifier("graft_fetch"),
      info("graft_fetch",
        "graft_fetch('dir', start, end) - record batches overlapping [start, end)"),
      (args: Seq[Expression]) => { arity("graft_fetch", args, 3)
        val dir = literalString(args(0), "graft_fetch", "dir")
        val lo = literalLong(args(1), "graft_fetch", "start")
        val hi = literalLong(args(2), "graft_fetch", "end")
        GraftShims.analyzedPlan(EsLog.fetch(active(), dir, lo, hi)) }),
    (FunctionIdentifier("graft_fetch_time"),
      info("graft_fetch_time",
        "graft_fetch_time('dir', from_ms, until_ms) - record batches with " +
          "from_ms <= base_timestamp < until_ms (manifest time-index file " +
          "pruning + row-group skipping)"),
      (args: Seq[Expression]) => { arity("graft_fetch_time", args, 3)
        val dir = literalString(args(0), "graft_fetch_time", "dir")
        val from = literalLong(args(1), "graft_fetch_time", "from_ms")
        val until = literalLong(args(2), "graft_fetch_time", "until_ms")
        GraftShims.analyzedPlan(EsLog.fetchByTime(active(), dir, from, until)) }),
    (FunctionIdentifier("graft_export_objects"),
      info("graft_export_objects",
        "graft_export_objects('dir'[, start, end[, max_object_bytes]]) - " +
          "committed data [start, end) re-encoded as reference-layout " +
          "tiered objects, range-aligned; one row (stream_id, range_index, " +
          "start_offset, end_offset, data_len, obj) per object, " +
          "re-ingestible by graft_ingest paths"),
      (args: Seq[Expression]) => { arity("graft_export_objects", args, 1, 3, 4)
        val dir = literalString(args(0), "graft_export_objects", "dir")
        val lo = if (args.size >= 3) literalLong(args(1), "graft_export_objects", "start") else 0L
        val hi = if (args.size >= 3) literalLong(args(2), "graft_export_objects", "end") else Long.MaxValue
        val cap = if (args.size == 4)
          literalInt(args(3), "graft_export_objects", "max_object_bytes")
        else 128 * 1024 * 1024
        GraftShims.analyzedPlan(EsLog.exportObjects(active(), dir, lo, hi, cap)) }),
    (FunctionIdentifier("graft_export_wal"),
      info("graft_export_wal",
        "graft_export_wal('dir'[, start, end[, segment_bytes]]) - committed " +
          "data [start, end) re-encoded as fixed-size sealed reference WAL " +
          "segments with contiguous offsets; one row (wal_offset, " +
          "n_records, seg) per segment"),
      (args: Seq[Expression]) => { arity("graft_export_wal", args, 1, 3, 4)
        val dir = literalString(args(0), "graft_export_wal", "dir")
        val lo = if (args.size >= 3) literalLong(args(1), "graft_export_wal", "start") else 0L
        val hi = if (args.size >= 3) literalLong(args(2), "graft_export_wal", "end") else Long.MaxValue
        val seg = if (args.size == 4)
          literalInt(args(3), "graft_export_wal", "segment_bytes")
        else 64 * 1024 * 1024
        GraftShims.analyzedPlan(EsLog.exportWal(active(), dir, lo, hi, seg)) }),
    (FunctionIdentifier("graft_offset_for_time"),
      info("graft_offset_for_time",
        "graft_offset_for_time('dir', ts_ms) - earliest readable offset with " +
          "base_timestamp >= ts_ms (next_offset if none); returns one row " +
          "(ts_ms, offset)"),
      (args: Seq[Expression]) => { arity("graft_offset_for_time", args, 2)
        val dir = literalString(args(0), "graft_offset_for_time", "dir")
        val ts = literalLong(args(1), "graft_offset_for_time", "ts_ms")
        localRow(Seq(("ts_ms", ts),
          ("offset", EsLog.offsetForTimestamp(active(), dir, ts)))) }),
    (FunctionIdentifier("graft_group_offset"),
      info("graft_group_offset",
        "graft_group_offset('dir', 'group') - the consumer group's committed " +
          "position; one row (grp, committed, offset) with committed=false, " +
          "offset=start when none"),
      (args: Seq[Expression]) => { arity("graft_group_offset", args, 2)
        val dir = literalString(args(0), "graft_group_offset", "dir")
        val group = literalString(args(1), "graft_group_offset", "group")
        val pos = EsLog.groupOffset(dir, group)
        localRow(Seq(("grp", group), ("committed", pos.isDefined),
          ("offset", pos.getOrElse(EsLog.startOffset(dir))))) }),
    (FunctionIdentifier("graft_group_lag"),
      info("graft_group_lag",
        "graft_group_lag('dir'[, 'group']) - consumer-group lag vs the " +
          "stream head from one snapshot; one row (grp, committed, " +
          "position, next_offset, lag) per group (all committed groups " +
          "when none named)"),
      (args: Seq[Expression]) => { arity("graft_group_lag", args, 1, 2)
        val dir = literalString(args(0), "graft_group_lag", "dir")
        val group = if (args.size == 2)
          Some(literalString(args(1), "graft_group_lag", "group")) else None
        GraftShims.analyzedPlan(EsLog.groupLags(active(), dir, group)) }),
    (FunctionIdentifier("graft_fanout_intent"),
      info("graft_fanout_intent",
        "graft_fanout_intent('src_dir', 'group') - the fan-out pipeline's " +
          "in-flight intent span, if any: one row (in_flight, from_offset, " +
          "up_to) — a long-lived intent means a crashed/fenced run holds " +
          "the next span (re-run the job at a live epoch to adopt it)"),
      (args: Seq[Expression]) => { arity("graft_fanout_intent", args, 2)
        val dir = literalString(args(0), "graft_fanout_intent", "src_dir")
        val group = literalString(args(1), "graft_fanout_intent", "group")
        val intent = EsLog.fanOutIntent(dir, group)
        localRow(Seq(
          "in_flight" -> intent.isDefined,
          "from_offset" -> intent.map(_._1).getOrElse(-1L),
          "up_to" -> intent.map(_._2).getOrElse(-1L))) }),
    (FunctionIdentifier("graft_commit_group_offset"),
      info("graft_commit_group_offset",
        "graft_commit_group_offset('dir', 'group', offset, expected) - CAS " +
          "position commit (expected NULL = no prior position); one row " +
          "(grp, offset, committed). NOTE: effects run at analysis; see the " +
          "DDL idempotence contract — a re-resolved successful commit " +
          "re-evaluates as a no-op retry and still reports true. CAVEAT: " +
          "the retry rule makes committed=true whenever stored == offset, " +
          "even for a caller whose expected was stale — a same-offset race " +
          "loser is indistinguishable from a re-analysis replay at this " +
          "surface; use Scala commitGroupOffset for strict CAS reporting"),
      (args: Seq[Expression]) => { arity("graft_commit_group_offset", args, 4)
        val dir = literalString(args(0), "graft_commit_group_offset", "dir")
        val group = literalString(args(1), "graft_commit_group_offset", "group")
        val off = literalLong(args(2), "graft_commit_group_offset", "offset")
        val expected =
          if (args(3).foldable && args(3).eval(null) == null) None
          else Some(literalLong(args(3), "graft_commit_group_offset", "expected"))
        // Idempotent under re-analysis: if the stored position already equals
        // the target (a re-resolved successful commit), report success
        // without a second CAS — same retry rule Kafka's OffsetCommit has.
        val done = EsLog.groupOffset(dir, group).contains(off) ||
          EsLog.commitGroupOffset(dir, group, off, expected)
        localRow(Seq(("grp", group), ("offset", off), ("committed", done))) }),
    (FunctionIdentifier("graft_scan_delta"),
      info("graft_scan_delta",
        "graft_scan_delta('dir', from_version, to_version) - rows appended " +
          "between two log versions (offset-delimited incremental read; " +
          "versions from graft_history)"),
      (args: Seq[Expression]) => { arity("graft_scan_delta", args, 3)
        val dir = literalString(args(0), "graft_scan_delta", "dir")
        val from = literalLong(args(1), "graft_scan_delta", "from_version")
        val to = literalLong(args(2), "graft_scan_delta", "to_version")
        GraftShims.analyzedPlan(EsLog.scanDelta(active(), dir, from, to)) }),
    (FunctionIdentifier("graft_history"),
      info("graft_history", "graft_history('dir') - commit history of an eslog stream"),
      (args: Seq[Expression]) => { arity("graft_history", args, 1)
        val dir = literalString(args(0), "graft_history", "dir")
        GraftShims.analyzedPlan(EsLog.history(active(), dir)) }),
    (FunctionIdentifier("graft_create_stream"),
      info("graft_create_stream",
        "graft_create_stream('root', 'name'[, retention_ms]) - create-if-absent; returns (name, stream_id, created)"),
      (args: Seq[Expression]) => { arity("graft_create_stream", args, 2, 3)
        val root = literalString(args(0), "graft_create_stream", "root")
        val name = literalString(args(1), "graft_create_stream", "name")
        val retention = if (args.size == 3)
          literalLong(args(2), "graft_create_stream", "retention_ms") else -1L
        val (id, created) = new graft.eslog.EsCatalog(root)
          .createStreamIfAbsent(name, retentionMs = retention)
        localRow(Seq(("name", name), ("stream_id", id), ("created", created))) }),
    (FunctionIdentifier("graft_clone_stream"),
      info("graft_clone_stream",
        "graft_clone_stream('src_dir', 'dst_dir'[, version]) - deep clone of " +
          "a stream (log + referenced data files); returns (dst, version, next_offset)"),
      (args: Seq[Expression]) => { arity("graft_clone_stream", args, 2, 3)
        val src = literalString(args(0), "graft_clone_stream", "src_dir")
        val dst = literalString(args(1), "graft_clone_stream", "dst_dir")
        val v = if (args.size == 3)
          literalLong(args(2), "graft_clone_stream", "version") else -1L
        val st = EsLog.cloneStream(active(), src, dst, v)
        localRow(Seq(("dst", dst), ("version", st.version),
          ("next_offset", st.nextOffset))) }),
    (FunctionIdentifier("graft_symlink_manifest"),
      info("graft_symlink_manifest",
        "graft_symlink_manifest('dir'[, version]) - export the snapshot as a " +
          "symlink-format manifest for external engines; returns (dir, " +
          "manifest_path, n_files). Idempotent per the DDL contract (an " +
          "identical re-export overwrites in place)."),
      (args: Seq[Expression]) => { arity("graft_symlink_manifest", args, 1, 2)
        val dir = literalString(args(0), "graft_symlink_manifest", "dir")
        val v = if (args.size == 2)
          literalLong(args(1), "graft_symlink_manifest", "version") else -1L
        val path = EsLog.generateSymlinkManifest(dir, v)
        val n = active().read.textFile(path).count()
        localRow(Seq(("dir", dir), ("manifest_path", path), ("n_files", n))) }),
    (FunctionIdentifier("graft_create_streams"),
      info("graft_create_streams",
        "graft_create_streams('root', 'n1,n2,...'[, retention_ms]) - batch " +
          "create-if-absent (the reference's batch import frame, rpc.fbs:494-496); " +
          "one row (name, stream_id, status) per name, status OK/ALREADY_EXISTS"),
      (args: Seq[Expression]) => { arity("graft_create_streams", args, 2, 3)
        val root = literalString(args(0), "graft_create_streams", "root")
        val names = literalString(args(1), "graft_create_streams", "names")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val retention = if (args.size == 3)
          literalLong(args(2), "graft_create_streams", "retention_ms") else -1L
        val session = active()
        GraftShims.analyzedPlan(new graft.eslog.EsCatalog(root).createStreams(
          session, names.map(n =>
            graft.eslog.EsCatalog.StreamSpec(n, retentionMs = retention)))) }),
    (FunctionIdentifier("graft_delete_streams"),
      info("graft_delete_streams",
        "graft_delete_streams('root', 'n1,n2,...') - batch delete; one row " +
          "(name, stream_id, status) per name, status OK/NOT_FOUND"),
      (args: Seq[Expression]) => { arity("graft_delete_streams", args, 2)
        val root = literalString(args(0), "graft_delete_streams", "root")
        val names = literalString(args(1), "graft_delete_streams", "names")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        GraftShims.analyzedPlan(
          new graft.eslog.EsCatalog(root).deleteStreams(active(), names)) }),
    (FunctionIdentifier("graft_describe_streams"),
      info("graft_describe_streams",
        "graft_describe_streams('root', 'n1,n2,...') - batch describe; unknown " +
          "names report status NOT_FOUND instead of failing the batch"),
      (args: Seq[Expression]) => { arity("graft_describe_streams", args, 2)
        val root = literalString(args(0), "graft_describe_streams", "root")
        val names = literalString(args(1), "graft_describe_streams", "names")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        GraftShims.analyzedPlan(
          new graft.eslog.EsCatalog(root).describeStreams(active(), names)) }),
    (FunctionIdentifier("graft_drop_stream"),
      info("graft_drop_stream",
        "graft_drop_stream('root', 'name') - idempotent drop; returns (name, dropped)"),
      (args: Seq[Expression]) => { arity("graft_drop_stream", args, 2)
        val root = literalString(args(0), "graft_drop_stream", "root")
        val name = literalString(args(1), "graft_drop_stream", "name")
        val dropped = new graft.eslog.EsCatalog(root).dropStreamIfExists(name)
        localRow(Seq(("name", name), ("dropped", dropped))) }),
    (FunctionIdentifier("graft_describe_stream"),
      info("graft_describe_stream",
        "graft_describe_stream('root', 'name') - stream metadata row"),
      (args: Seq[Expression]) => { arity("graft_describe_stream", args, 2)
        val root = literalString(args(0), "graft_describe_stream", "root")
        val name = literalString(args(1), "graft_describe_stream", "name")
        val cat = new graft.eslog.EsCatalog(root)
        val id = cat.getStream(name).getOrElse(
          throw new IllegalArgumentException(s"no stream '$name' under $root"))
        val st = EsLog.describe(cat.streamDir(name))
        localRow(Seq(("name", name), ("stream_id", id), ("epoch", st.epoch),
          ("start_offset", st.startOffset), ("next_offset", st.nextOffset),
          ("replica", st.replica), ("ack_count", st.ackCount),
          ("retention_ms", st.retentionMs), ("deleted", st.deleted))) }),
    (FunctionIdentifier("graft_alter_stream"),
      info("graft_alter_stream",
        "graft_alter_stream('root', 'name', replica, ack_count, retention_ms) - " +
          "UPDATE_STREAM: pass NULL to leave a field unchanged (retention_ms -1 = " +
          "unlimited); returns the new metadata row"),
      (args: Seq[Expression]) => { arity("graft_alter_stream", args, 5)
        val root = literalString(args(0), "graft_alter_stream", "root")
        val name = literalString(args(1), "graft_alter_stream", "name")
        // NULL = leave unchanged — NOT -1, which must stay available as
        // retention's explicit "unlimited" (the create-time default)
        def isNull(e: Expression): Boolean = e.foldable && e.eval(null) == null
        def optInt(i: Int, field: String): Option[Int] =
          if (isNull(args(i))) None
          else Some(literalInt(args(i), "graft_alter_stream", field))
        val cat = new graft.eslog.EsCatalog(root)
        val id = cat.getStream(name).getOrElse(
          throw new IllegalArgumentException(s"no stream '$name' under $root"))
        val dir = cat.streamDir(name)
        val replicaO = optInt(2, "replica")
        val ackO = optInt(3, "ack_count")
        val retO = if (isNull(args(4))) None
          else Some(literalLong(args(4), "graft_alter_stream", "retention_ms"))
        // Idempotence contract (see class doc: analysis may resolve a
        // statement more than once): commit ONLY an effective change. A
        // no-op alter — all NULLs, or values the stream already has —
        // appends nothing and cannot shift the snapshot ids graft_history
        // exposes; a re-resolved alter sees its own result and skips.
        val st0 = EsLog.describe(dir)
        val changed = replicaO.exists(_ != st0.replica) ||
          ackO.exists(_ != st0.ackCount) || retO.exists(_ != st0.retentionMs)
        val st = if (changed) EsLog.update(dir, replicaO, ackO, retO) else st0
        localRow(Seq(("name", name), ("stream_id", id), ("replica", st.replica),
          ("ack_count", st.ackCount), ("retention_ms", st.retentionMs))) }),
    (FunctionIdentifier("graft_list_streams"),
      info("graft_list_streams",
        "graft_list_streams('root') - registered streams with live metadata"),
      (args: Seq[Expression]) => { arity("graft_list_streams", args, 1)
        val root = literalString(args(0), "graft_list_streams", "root")
        GraftShims.analyzedPlan(new graft.eslog.EsCatalog(root).listStreams(active())) }),
    (FunctionIdentifier("graft_catalog_scan"),
      info("graft_catalog_scan",
        "graft_catalog_scan('root') - all registered streams behind ONE scan relation"),
      (args: Seq[Expression]) => { arity("graft_catalog_scan", args, 1)
        val root = literalString(args(0), "graft_catalog_scan", "root")
        GraftShims.analyzedPlan(new graft.eslog.EsCatalog(root).scanAll(active())) }),
    (FunctionIdentifier("graft_catalog_group_lag"),
      info("graft_catalog_group_lag",
        "graft_catalog_group_lag('root'[, 'group']) - consumer-group lag " +
          "across EVERY registered stream (the --all-groups admin sweep); " +
          "one row (stream, grp, committed, position, next_offset, lag)"),
      (args: Seq[Expression]) => { arity("graft_catalog_group_lag", args, 1, 2)
        val root = literalString(args(0), "graft_catalog_group_lag", "root")
        val group = if (args.size == 2)
          Some(literalString(args(1), "graft_catalog_group_lag", "group")) else None
        GraftShims.analyzedPlan(
          new graft.eslog.EsCatalog(root).groupLags(active(), group)) }),
    (FunctionIdentifier("graft_catalog_fanout_intents"),
      info("graft_catalog_fanout_intents",
        "graft_catalog_fanout_intents('root') - every in-flight fan-out " +
          "intent across the registered streams (the stuck-pipeline sweep " +
          "pairing graft_catalog_group_lag); one row (stream, grp, " +
          "intent_from, intent_up_to, position, next_offset) per intent"),
      (args: Seq[Expression]) => { arity("graft_catalog_fanout_intents", args, 1)
        val root = literalString(args(0), "graft_catalog_fanout_intents", "root")
        GraftShims.analyzedPlan(
          new graft.eslog.EsCatalog(root).fanOutIntents(active())) }),
    (FunctionIdentifier("graft_registry_history"),
      info("graft_registry_history",
        "graft_registry_history('root') - registry events (put/del/delRange) with revisions"),
      (args: Seq[Expression]) => { arity("graft_registry_history", args, 1)
        val root = literalString(args(0), "graft_registry_history", "root")
        GraftShims.analyzedPlan(
          new graft.eslog.EsCatalog(root).registryHistory(active())) }),

    // ---- pipeline-operator TVFs: the highest-traffic LLM-data operators
    //      callable from pure SQL over any table/view or parquet path —
    //      the "drive the whole pipeline from SQL" completion of the DDL
    //      surface. Input resolution ('/' => parquet path, else catalog
    //      table / temp view) happens at analysis like the stream TVFs;
    //      the spliced plan is the operator's own (same pushdown, same
    //      codegen, same plan-audit guarantees). ----
    (FunctionIdentifier("graft_dedup_exact"),
      info("graft_dedup_exact",
        "graft_dedup_exact('table_or_path', 'id_col', 'text_col') - exact " +
          "duplicate groups by content hash: (id, h, dups)"),
      (args: Seq[Expression]) => { arity("graft_dedup_exact", args, 3)
        val (df, id, text) = opInput("graft_dedup_exact", args)
        GraftShims.analyzedPlan(graft.operators.Dedup.exact(df, id, text)) }),
    (FunctionIdentifier("graft_dedup_minhash"),
      info("graft_dedup_minhash",
        "graft_dedup_minhash('table_or_path', 'id_col', 'text_col'[, k, " +
          "num_hashes, bands]) - MinHash+LSH near-dup candidate pairs (i, j)"),
      (args: Seq[Expression]) => { arity("graft_dedup_minhash", args, 3, 4, 5, 6)
        val (df, id, text) = opInput("graft_dedup_minhash", args)
        val k = optLong(args, 3, 3L, "graft_dedup_minhash", "k").toInt
        val nh = optLong(args, 4, 16L, "graft_dedup_minhash", "num_hashes").toInt
        val b = optLong(args, 5, 4L, "graft_dedup_minhash", "bands").toInt
        GraftShims.analyzedPlan(graft.operators.Dedup.minHashLshCandidates(
          df, id, text, k = k, numHashes = nh, bands = b)) }),
    (FunctionIdentifier("graft_decontaminate"),
      info("graft_decontaminate",
        "graft_decontaminate('corpus_table_or_path', 'bench_table_or_path', " +
          "'id_col', 'text_col'[, k]) - corpus docs sharing k-gram shingles " +
          "with the benchmark; rows (id, n_shared)"),
      (args: Seq[Expression]) => { arity("graft_decontaminate", args, 4, 5)
        val corpus = resolveRef(literalString(args(0), "graft_decontaminate", "corpus"))
        val bench = resolveRef(literalString(args(1), "graft_decontaminate", "bench"))
        val id = literalString(args(2), "graft_decontaminate", "id_col")
        val text = literalString(args(3), "graft_decontaminate", "text_col")
        val k = optLong(args, 4, 8L, "graft_decontaminate", "k").toInt
        GraftShims.analyzedPlan(graft.operators.Dedup.decontaminate(
          corpus, bench, id, text, k = k)) }),
    (FunctionIdentifier("graft_decontaminate_fuzzy"),
      info("graft_decontaminate_fuzzy",
        "graft_decontaminate_fuzzy('corpus_table_or_path', " +
          "'bench_table_or_path', 'id_col', 'text_col'[, k, num_hashes, " +
          "bands, threshold_permille]) - MinHash-banded benchmark-leak " +
          "scan, true-Jaccard verified; rows (id, bench_doc, jaccard)"),
      (args: Seq[Expression]) => {
        arity("graft_decontaminate_fuzzy", args, 4, 5, 6, 7, 8)
        val corpus = resolveRef(literalString(args(0), "graft_decontaminate_fuzzy", "corpus"))
        val bench = resolveRef(literalString(args(1), "graft_decontaminate_fuzzy", "bench"))
        val id = literalString(args(2), "graft_decontaminate_fuzzy", "id_col")
        val text = literalString(args(3), "graft_decontaminate_fuzzy", "text_col")
        val k = optLong(args, 4, 3L, "graft_decontaminate_fuzzy", "k").toInt
        val nh = optLong(args, 5, 16L, "graft_decontaminate_fuzzy", "num_hashes").toInt
        val b = optLong(args, 6, 4L, "graft_decontaminate_fuzzy", "bands").toInt
        val tp = optLong(args, 7, 500L, "graft_decontaminate_fuzzy", "threshold_permille")
        GraftShims.analyzedPlan(graft.operators.Dedup.decontaminateFuzzy(
          corpus, bench, id, text, k = k, numHashes = nh, bands = b,
          threshold = tp / 1000.0)) }),
    (FunctionIdentifier("graft_text_stats"),
      info("graft_text_stats",
        "graft_text_stats('table_or_path', 'id_col', 'text_col') - token " +
          "statistics per doc (n_chars, n_tokens, n_distinct, avg_token_len)"),
      (args: Seq[Expression]) => { arity("graft_text_stats", args, 3)
        val (df, id, text) = opInput("graft_text_stats", args)
        GraftShims.analyzedPlan(graft.operators.TextOps.tokenStats(df, id, text)) }),
    (FunctionIdentifier("graft_text_quality"),
      info("graft_text_quality",
        "graft_text_quality('table_or_path', 'id_col', 'text_col') - quality " +
          "features per doc (lexical diversity, stopword/digit/punct ratios)"),
      (args: Seq[Expression]) => { arity("graft_text_quality", args, 3)
        val (df, id, text) = opInput("graft_text_quality", args)
        GraftShims.analyzedPlan(graft.operators.TextOps.qualityScore(df, id, text)) }),
    (FunctionIdentifier("graft_media_dedup_cdc"),
      info("graft_media_dedup_cdc",
        "graft_media_dedup_cdc('table_or_path', 'id_col', 'payload_col'" +
          "[, window, divisor, min_shared, max_df]) - content-defined-" +
          "chunking media near-dup pairs (i, j, n_shared)"),
      (args: Seq[Expression]) => {
        arity("graft_media_dedup_cdc", args, 3, 4, 5, 6, 7)
        val (df, id, payload) = opInput("graft_media_dedup_cdc", args, textual = false)
        val w = optLong(args, 3, 8L, "graft_media_dedup_cdc", "window").toInt
        val d = optLong(args, 4, 16L, "graft_media_dedup_cdc", "divisor").toInt
        val ms = optLong(args, 5, 4L, "graft_media_dedup_cdc", "min_shared").toInt
        val mdf = optLong(args, 6, 64L, "graft_media_dedup_cdc", "max_df").toInt
        GraftShims.analyzedPlan(graft.operators.Multimodal.binaryNearDupsCdc(
          df, id, payload, window = w, divisor = d, minShared = ms, maxDf = mdf)) }),
    (FunctionIdentifier("graft_text_langid"),
      info("graft_text_langid",
        "graft_text_langid('table_or_path', 'id_col', 'text_col') - " +
          "marker-voting language id per doc (scores + argmax prediction)"),
      (args: Seq[Expression]) => { arity("graft_text_langid", args, 3)
        val (df, id, text) = opInput("graft_text_langid", args)
        GraftShims.analyzedPlan(graft.operators.TextOps.languageId(df, id, text)) }),
    (FunctionIdentifier("graft_text_lm_buckets"),
      info("graft_text_lm_buckets",
        "graft_text_lm_buckets('table_or_path', 'id_col', 'text_col', " +
          "'source_col') - CCNet-style head/middle/tail quality buckets: " +
          "per-source exact integer terciles of the bigram-LM score; " +
          "returns (id, source, mean_nll, bucket)"),
      (args: Seq[Expression]) => { arity("graft_text_lm_buckets", args, 4)
        val (df, id, text) = opInput("graft_text_lm_buckets", args)
        val srcCol = literalString(args(3), "graft_text_lm_buckets", "source_col")
        GraftShims.analyzedPlan(graft.operators.TextOps.lmBuckets(
          df, id, text, srcCol)) }),
    (FunctionIdentifier("graft_sample_temperature"),
      info("graft_sample_temperature",
        "graft_sample_temperature('table_or_path', 'id_col', 'source_col', " +
          "alpha_permille[, seed]) - temperature (alpha) source rebalancing: " +
          "keeps rows so source shares follow n^alpha (alpha in permille, " +
          "0 = flatten to the smallest source, 1000 = keep everything)"),
      (args: Seq[Expression]) => { arity("graft_sample_temperature", args, 4, 5)
        val (df, id, srcCol) = opInput("graft_sample_temperature", args)
        val alphaPm = literalLong(args(3), "graft_sample_temperature", "alpha_permille")
        require(alphaPm >= 0 && alphaPm <= 1000,
          s"graft_sample_temperature: alpha_permille must be in [0, 1000], got $alphaPm")
        val seed = optLong(args, 4, 0L, "graft_sample_temperature", "seed").toInt
        GraftShims.analyzedPlan(graft.operators.Sampling.sampleTemperature(
          df, id, srcCol, alphaPm / 1000.0, seed)) }),
    (FunctionIdentifier("graft_sample_token_budget"),
      info("graft_sample_token_budget",
        "graft_sample_token_budget('table_or_path', 'id_col', 'text_col', " +
          "'source_col', 'budgets_table_or_path'[, seed]) - token-budget " +
          "admission per source in seeded-hash order; the budgets relation's " +
          "first two columns are (source STRING, budget BIGINT); returns " +
          "(id, source, n_tokens, cum_tokens)"),
      (args: Seq[Expression]) => { arity("graft_sample_token_budget", args, 5, 6)
        val (df, id, text) = opInput("graft_sample_token_budget", args)
        val srcCol = literalString(args(3), "graft_sample_token_budget", "source_col")
        val bref = literalString(args(4), "graft_sample_token_budget", "budgets_table_or_path")
        // budgets are recipe-sized (one row per source) — a bounded, legal
        // driver collect, exactly what the Scala caller passes as a Seq;
        // positional (source, budget) with type coercion so an INT budget
        // column works as naturally as BIGINT
        val bdf0 = resolveRef(bref)
        require(bdf0.columns.length >= 2,
          s"graft_sample_token_budget: budgets relation '$bref' needs (source, budget) columns")
        val budgets = bdf0.select(
            org.apache.spark.sql.functions.col(bdf0.columns(0)).cast("string"),
            org.apache.spark.sql.functions.col(bdf0.columns(1)).cast("long"))
          .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
        val seed = optLong(args, 5, 7L, "graft_sample_token_budget", "seed").toInt
        GraftShims.analyzedPlan(graft.operators.Sampling.sampleToTokenBudget(
          df, id, text, srcCol, budgets, seed)) }),
    (FunctionIdentifier("graft_media_probe"),
      info("graft_media_probe",
        "graft_media_probe('index_dir', 'incoming_table_or_path', 'id_col', " +
          "'payload_col'[, min_shared, version]) - screen incoming media " +
          "against a PERSISTED bucket-partitioned CDC chunk library index " +
          "(graft.operators.Multimodal.writeMediaLibraryIndex); the library " +
          "is partition-pruned and never shuffles; with a version, TIME " +
          "TRAVEL to that commit; returns (incoming, existing, n_shared)"),
      (args: Seq[Expression]) => { arity("graft_media_probe", args, 4, 5, 6)
        val dir = literalString(args(0), "graft_media_probe", "index_dir")
        val iref = literalString(args(1), "graft_media_probe", "incoming_table_or_path")
        val id = literalString(args(2), "graft_media_probe", "id_col")
        val payload = literalString(args(3), "graft_media_probe", "payload_col")
        val ms = optLong(args, 4, 4L, "graft_media_probe", "min_shared").toInt
        val ver = if (args.size > 5)
          Some(literalLong(args(5), "graft_media_probe", "version")) else None
        GraftShims.analyzedPlan(graft.operators.Multimodal.mediaDedupProbeAt(
          active(), dir, resolveRef(iref), id, payload, minShared = ms,
          version = ver)) }),
    (FunctionIdentifier("graft_sim_index_add"),
      info("graft_sim_index_add",
        "graft_sim_index_add('index_dir', 'vecs_table_or_path', 'id_col', " +
          "'vec_col'[, 'batch_id']) - FAISS add(): extend a persisted IVF " +
          "index (graft.operators.Similarity.writeIvfIndex) with new " +
          "vectors — assigned to the EXISTING centroids, never re-trained; " +
          "returns (dir, ok). Runs at EXECUTION time (EXPLAIN and view " +
          "resolution are side-effect-free); with a batch_id, a replayed " +
          "statement is skipped (ok = false) by the index commit log"),
      (args: Seq[Expression]) => { arity("graft_sim_index_add", args, 4, 5)
        val dir = literalString(args(0), "graft_sim_index_add", "index_dir")
        val vref = literalString(args(1), "graft_sim_index_add", "vecs_table_or_path")
        val id = literalString(args(2), "graft_sim_index_add", "id_col")
        val vec = literalString(args(3), "graft_sim_index_add", "vec_col")
        val bid = if (args.size > 4)
          Some(literalString(args(4), "graft_sim_index_add", "batch_id")) else None
        val session = active()
        procedure("graft_sim_index_add") { () =>
          val applied = graft.operators.Similarity.appendToIvfIndex(
            session, dir, resolveRef(session, vref), id, vec, bid)
          Seq(org.apache.spark.sql.Row(dir, applied))
        } }),
    (FunctionIdentifier("graft_pca_build"),
      info("graft_pca_build",
        "graft_pca_build('model_dir', 'vecs_table_or_path', 'id_col', " +
          "'vec_col', k[, sample_n]) - train a PCA model on the " +
          "deterministic sorted sample and persist it (parquet, doubles " +
          "bit-exact); returns (dir, ok). Runs at EXECUTION time"),
      (args: Seq[Expression]) => { arity("graft_pca_build", args, 5, 6)
        val dir = literalString(args(0), "graft_pca_build", "model_dir")
        val vref = literalString(args(1), "graft_pca_build", "vecs_table_or_path")
        val id = literalString(args(2), "graft_pca_build", "id_col")
        val vec = literalString(args(3), "graft_pca_build", "vec_col")
        val k = literalInt(args(4), "graft_pca_build", "k")
        val sn = if (args.size == 6)
          literalInt(args(5), "graft_pca_build", "sample_n") else 4096
        val session = active()
        procedure("graft_pca_build") { () =>
          val m = Similarity.pcaTrain(resolveRef(session, vref), id, vec, k, sn)
          Similarity.writePcaModel(session, dir, m)
          Seq(org.apache.spark.sql.Row(dir, true))
        } }),
    (FunctionIdentifier("graft_pca_project"),
      info("graft_pca_project",
        "graft_pca_project('model_dir', 'vecs_table_or_path', 'id_col', " +
          "'vec_col') - project vectors through a persisted PCA model; one " +
          "codegen'd affine pass, rows (id, proj)"),
      (args: Seq[Expression]) => { arity("graft_pca_project", args, 4)
        val dir = literalString(args(0), "graft_pca_project", "model_dir")
        val vref = literalString(args(1), "graft_pca_project", "vecs_table_or_path")
        val id = literalString(args(2), "graft_pca_project", "id_col")
        val vec = literalString(args(3), "graft_pca_project", "vec_col")
        val session = active()
        GraftShims.analyzedPlan(Similarity.pcaProject(
          resolveRef(session, vref), id, vec,
          Similarity.readPcaModel(session, dir))) }),
    (FunctionIdentifier("graft_pca_describe"),
      info("graft_pca_describe",
        "graft_pca_describe('model_dir') - a persisted PCA model's " +
          "explained-variance report; rows (i, evar, ratio)"),
      (args: Seq[Expression]) => { arity("graft_pca_describe", args, 1)
        val dir = literalString(args(0), "graft_pca_describe", "model_dir")
        val session = active()
        val m = Similarity.readPcaModel(session, dir)
        import session.implicits._
        GraftShims.analyzedPlan(
          m.explainedVariance.zip(m.explainedRatio).zipWithIndex
            .map { case ((v, r), i) => (i, v, r) }.toSeq
            .toDF("i", "evar", "ratio")) }),
    (FunctionIdentifier("graft_ingest_objects"),
      info("graft_ingest_objects",
        "graft_ingest_objects('stream_dir', 'obj_dir', epoch) - ingest a " +
          "directory of RAW reference tiered objects (one object per file, " +
          "the bucket layout) into the stream, logical order restored from " +
          "embedded offsets; returns (dir, ok). Runs at EXECUTION time " +
          "(EXPLAIN is side-effect-free)"),
      (args: Seq[Expression]) => { arity("graft_ingest_objects", args, 3)
        val sd = literalString(args(0), "graft_ingest_objects", "stream_dir")
        val od = literalString(args(1), "graft_ingest_objects", "obj_dir")
        val ep = literalLong(args(2), "graft_ingest_objects", "epoch")
        val session = active()
        procedure("graft_ingest_objects") { () =>
          EsLog.ingestObjectDir(session, sd, od, ep)
          Seq(org.apache.spark.sql.Row(sd, true))
        } }),
    (FunctionIdentifier("graft_ingest_wal"),
      info("graft_ingest_wal",
        "graft_ingest_wal('stream_dir', 'wal_dir', epoch) - ingest a store " +
          "directory of RAW WAL segment files (names = base WAL offsets, " +
          "the reference's naming) through the CRC-checked recovery scan; " +
          "returns (dir, ok). Runs at EXECUTION time"),
      (args: Seq[Expression]) => { arity("graft_ingest_wal", args, 3)
        val sd = literalString(args(0), "graft_ingest_wal", "stream_dir")
        val wd = literalString(args(1), "graft_ingest_wal", "wal_dir")
        val ep = literalLong(args(2), "graft_ingest_wal", "epoch")
        val session = active()
        procedure("graft_ingest_wal") { () =>
          EsLog.ingestWalDir(session, sd, wd, ep)
          Seq(org.apache.spark.sql.Row(sd, true))
        } }),
    (FunctionIdentifier("graft_ingest_pd"),
      info("graft_ingest_pd",
        "graft_ingest_pd('catalog_root', 'kv_table_or_path'[, 'root_path', " +
          "'name_prefix']) - ingest a PD etcd metadata snapshot (key/value " +
          "rows: streams/<id> + s/<id>/ranges/<idx> FlatBuffers records) " +
          "into the catalog: stream config, range boundaries, epochs and " +
          "trim land as imported segment manifests; data then backfills at " +
          "ORIGINAL offsets (graft_backfill_objects/_wal). Returns " +
          "(dir, ok). Runs at EXECUTION time"),
      (args: Seq[Expression]) => { arity("graft_ingest_pd", args, 2, 4)
        val root = literalString(args(0), "graft_ingest_pd", "catalog_root")
        val ref = literalString(args(1), "graft_ingest_pd", "kv_table_or_path")
        val rootPath = if (args.size > 2)
          literalString(args(2), "graft_ingest_pd", "root_path") else ""
        val prefix = if (args.size > 3)
          literalString(args(3), "graft_ingest_pd", "name_prefix") else "pd-"
        val session = active()
        procedure("graft_ingest_pd") { () =>
          new graft.eslog.EsCatalog(root).ingestPdSnapshot(session,
            resolveRef(session, ref), rootPath, prefix)
          Seq(org.apache.spark.sql.Row(root, true))
        } }),
    (FunctionIdentifier("graft_export_pd"),
      info("graft_export_pd",
        "graft_export_pd('catalog_root') - render the catalog's metadata " +
          "as a PD etcd snapshot: (key, value) rows in the placement " +
          "driver's exact key formats and FlatBuffers Stream/Range values " +
          "(the migration-OUT metadata twin; round-trips through " +
          "graft_ingest_pd)"),
      (args: Seq[Expression]) => { arity("graft_export_pd", args, 1)
        val root = literalString(args(0), "graft_export_pd", "catalog_root")
        val session = active()
        GraftShims.analyzedPlan(
          new graft.eslog.EsCatalog(root).exportPdSnapshot(session)) }),
    (FunctionIdentifier("graft_backfill_objects"),
      info("graft_backfill_objects",
        "graft_backfill_objects('stream_dir', 'obj_dir', epoch) - " +
          "OFFSET-PRESERVING ingest of a bucket of RAW reference tiered " +
          "objects under the stream's imported segment boundaries " +
          "(graft_ingest_pd first): records land at their original " +
          "offsets, pre-trim objects drop, re-runs are idempotent. " +
          "Returns (dir, ok). Runs at EXECUTION time"),
      (args: Seq[Expression]) => { arity("graft_backfill_objects", args, 3)
        val sd = literalString(args(0), "graft_backfill_objects", "stream_dir")
        val od = literalString(args(1), "graft_backfill_objects", "obj_dir")
        val ep = literalLong(args(2), "graft_backfill_objects", "epoch")
        val session = active()
        procedure("graft_backfill_objects") { () =>
          EsLog.backfillObjectDir(session, sd, od, ep)
          Seq(org.apache.spark.sql.Row(sd, true))
        } }),
    (FunctionIdentifier("graft_backfill_wal"),
      info("graft_backfill_wal",
        "graft_backfill_wal('stream_dir', 'wal_dir', epoch) - " +
          "OFFSET-PRESERVING ingest of RAW WAL segment files through the " +
          "CRC-checked recovery scan, under the stream's imported segment " +
          "boundaries. Returns (dir, ok). Runs at EXECUTION time"),
      (args: Seq[Expression]) => { arity("graft_backfill_wal", args, 3)
        val sd = literalString(args(0), "graft_backfill_wal", "stream_dir")
        val wd = literalString(args(1), "graft_backfill_wal", "wal_dir")
        val ep = literalLong(args(2), "graft_backfill_wal", "epoch")
        val session = active()
        procedure("graft_backfill_wal") { () =>
          EsLog.backfillWalDir(session, sd, wd, ep)
          Seq(org.apache.spark.sql.Row(sd, true))
        } }),
    (FunctionIdentifier("graft_sim_index_compact"),
      info("graft_sim_index_compact",
        "graft_sim_index_compact('index_dir') - fold a persisted IVF " +
          "index's delta trees to one file per cell, reader-transparently " +
          "(search-invariant; one CAS'd pointer flip); returns (dir, ok). " +
          "Runs at EXECUTION time (EXPLAIN is side-effect-free)"),
      (args: Seq[Expression]) => { arity("graft_sim_index_compact", args, 1)
        val dir = literalString(args(0), "graft_sim_index_compact", "index_dir")
        val session = active()
        procedure("graft_sim_index_compact") { () =>
          graft.operators.Similarity.compactIvfIndex(session, dir)
          Seq(org.apache.spark.sql.Row(dir, true))
        } }),
    (FunctionIdentifier("graft_dedup_index_add"),
      info("graft_dedup_index_add",
        "graft_dedup_index_add('index_dir', 'docs_table_or_path', 'id_col', " +
          "'text_col'[, 'batch_id']) - extend a persisted banded-MinHash " +
          "dedup index (graft.operators.Dedup.writeMinHashIndex) with new " +
          "documents, signed with the index's own sidecar params; returns " +
          "(dir, ok). Runs at EXECUTION time; with a batch_id, a replayed " +
          "statement is skipped (ok = false)"),
      (args: Seq[Expression]) => { arity("graft_dedup_index_add", args, 4, 5)
        val dir = literalString(args(0), "graft_dedup_index_add", "index_dir")
        val dref = literalString(args(1), "graft_dedup_index_add", "docs_table_or_path")
        val id = literalString(args(2), "graft_dedup_index_add", "id_col")
        val text = literalString(args(3), "graft_dedup_index_add", "text_col")
        val bid = if (args.size > 4)
          Some(literalString(args(4), "graft_dedup_index_add", "batch_id")) else None
        val session = active()
        procedure("graft_dedup_index_add") { () =>
          val applied = graft.operators.Dedup.appendToMinHashIndex(
            session, dir, resolveRef(session, dref), id, text, bid)
          Seq(org.apache.spark.sql.Row(dir, applied))
        } }),
    (FunctionIdentifier("graft_dedup_index_compact"),
      info("graft_dedup_index_compact",
        "graft_dedup_index_compact('index_dir') - fold a persisted MinHash " +
          "dedup index's delta trees to one file per (band, bucket), " +
          "reader-transparently (probe-invariant; one CAS'd pointer flip); " +
          "returns (dir, ok). Runs at EXECUTION time"),
      (args: Seq[Expression]) => { arity("graft_dedup_index_compact", args, 1)
        val dir = literalString(args(0), "graft_dedup_index_compact", "index_dir")
        val session = active()
        procedure("graft_dedup_index_compact") { () =>
          graft.operators.Dedup.compactMinHashIndex(session, dir)
          Seq(org.apache.spark.sql.Row(dir, true))
        } }),
    (FunctionIdentifier("graft_dedup_probe"),
      info("graft_dedup_probe",
        "graft_dedup_probe('index_dir', 'docs_table_or_path', 'id_col', " +
          "'text_col'[, version]) - probe NEW documents against a PERSISTED " +
          "partition-pruned MinHash dedup index " +
          "(graft.operators.Dedup.writeMinHashIndex): distinct candidate " +
          "pairs from the (band, sig) bucket join; the index never " +
          "shuffles; with a version, TIME TRAVEL to that commit; returns " +
          "(existing, incoming)"),
      (args: Seq[Expression]) => { arity("graft_dedup_probe", args, 4, 5)
        val dir = literalString(args(0), "graft_dedup_probe", "index_dir")
        val (df, id, text) = opInput("graft_dedup_probe", args.slice(1, 4))
        val ver = if (args.size > 4)
          Some(literalLong(args(4), "graft_dedup_probe", "version")) else None
        GraftShims.analyzedPlan(graft.operators.Dedup.probeMinHashIndexAt(
          active(), dir, df, id, text, version = ver)) }),
    (FunctionIdentifier("graft_sim_index_vacuum"),
      info("graft_sim_index_vacuum",
        "graft_sim_index_vacuum('index_dir') - reclaim IVF index trees no " +
          "committed reader can reach (superseded by compaction, or " +
          "orphaned by a crashed append); run AFTER a grace period longer " +
          "than any in-flight query and never concurrently with an append; " +
          "returns (dir, ok). Runs at EXECUTION time"),
      (args: Seq[Expression]) => { arity("graft_sim_index_vacuum", args, 1)
        val dir = literalString(args(0), "graft_sim_index_vacuum", "index_dir")
        val session = active()
        procedure("graft_sim_index_vacuum") { () =>
          graft.operators.Similarity.vacuumIvfIndex(session, dir)
          Seq(org.apache.spark.sql.Row(dir, true))
        } }),
    (FunctionIdentifier("graft_media_index_compact"),
      info("graft_media_index_compact",
        "graft_media_index_compact('index_dir') - fold a persisted media " +
          "chunk library's appended slices to one file per bucket AND " +
          "re-apply the df cap GLOBALLY across slices (probe results may " +
          "tighten to a fresh global build); reader-transparent (one CAS'd " +
          "pointer flip); returns (dir, ok). Runs at EXECUTION time"),
      (args: Seq[Expression]) => { arity("graft_media_index_compact", args, 1)
        val dir = literalString(args(0), "graft_media_index_compact", "index_dir")
        val session = active()
        procedure("graft_media_index_compact") { () =>
          graft.operators.Multimodal.compactMediaLibraryIndex(session, dir)
          Seq(org.apache.spark.sql.Row(dir, true))
        } }),
    (FunctionIdentifier("graft_media_index_vacuum"),
      info("graft_media_index_vacuum",
        "graft_media_index_vacuum('index_dir') - reclaim media chunk " +
          "library trees no committed reader can reach; same grace-period " +
          "contract as graft_sim_index_vacuum; returns (dir, ok). Runs at " +
          "EXECUTION time"),
      (args: Seq[Expression]) => { arity("graft_media_index_vacuum", args, 1)
        val dir = literalString(args(0), "graft_media_index_vacuum", "index_dir")
        val session = active()
        procedure("graft_media_index_vacuum") { () =>
          graft.operators.Multimodal.vacuumMediaLibraryIndex(session, dir)
          Seq(org.apache.spark.sql.Row(dir, true))
        } }),
    (FunctionIdentifier("graft_index_describe"),
      info("graft_index_describe",
        "graft_index_describe('index_dir') - the commit history of any " +
          "persisted graft index (IVF cells / LSH buckets / media chunks / " +
          "MinHash sigs): one row per committed version with its kind " +
          "(base/append/compact), live tree count, cumulative applied batch " +
          "count, and the latest flag; returns (version, kind, n_trees, " +
          "n_batches, is_latest)"),
      (args: Seq[Expression]) => { arity("graft_index_describe", args, 1)
        val dir = literalString(args(0), "graft_index_describe", "index_dir")
        val spark = active()
        val hist = graft.operators.IndexCommit.history(dir)
        val latest = hist.lastOption.map(_.version).getOrElse(-1L)
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("version", LongType, nullable = false),
          StructField("kind", StringType, nullable = false),
          StructField("n_trees", IntegerType, nullable = false),
          StructField("n_batches", IntegerType, nullable = false),
          StructField("is_latest", BooleanType, nullable = false)))
        val rows = hist.map(e => org.apache.spark.sql.Row(
          e.version, e.kind, e.dirs.size, e.batchIds.size, e.version == latest))
        GraftShims.analyzedPlan(spark.createDataFrame(
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)) }),
    (FunctionIdentifier("graft_sim_index_drift"),
      info("graft_sim_index_drift",
        "graft_sim_index_drift('index_dir') - per-append quantizer-drift " +
          "report for a persisted IVF index: each append commit's mean " +
          "assignment cosine vs the build corpus baseline; a clearly " +
          "positive drift means the corpus moved away from the fixed " +
          "quantizer and the index should be re-trained (rebuilt); returns " +
          "(version, batch_n, batch_mean_score, base_mean_score, drift)"),
      (args: Seq[Expression]) => { arity("graft_sim_index_drift", args, 1)
        val dir = literalString(args(0), "graft_sim_index_drift", "index_dir")
        GraftShims.analyzedPlan(
          graft.operators.Similarity.ivfDrift(active(), dir)) }),
    (FunctionIdentifier("graft_media_index_add"),
      info("graft_media_index_add",
        "graft_media_index_add('index_dir', 'media_table_or_path', 'id_col', " +
          "'payload_col'[, 'batch_id']) - extend a persisted media chunk " +
          "library (graft.operators.Multimodal.writeMediaLibraryIndex) with " +
          "new uploads, chunked with the index's own sidecar params; returns " +
          "(dir, ok). Runs at EXECUTION time (EXPLAIN and view resolution " +
          "are side-effect-free); with a batch_id, a replayed statement is " +
          "skipped (ok = false)"),
      (args: Seq[Expression]) => { arity("graft_media_index_add", args, 4, 5)
        val dir = literalString(args(0), "graft_media_index_add", "index_dir")
        val mref = literalString(args(1), "graft_media_index_add", "media_table_or_path")
        val id = literalString(args(2), "graft_media_index_add", "id_col")
        val payload = literalString(args(3), "graft_media_index_add", "payload_col")
        val bid = if (args.size > 4)
          Some(literalString(args(4), "graft_media_index_add", "batch_id")) else None
        val session = active()
        procedure("graft_media_index_add") { () =>
          val applied = graft.operators.Multimodal.appendToMediaLibraryIndex(
            session, dir, resolveRef(session, mref), id, payload, bid)
          Seq(org.apache.spark.sql.Row(dir, applied))
        } }),
    (FunctionIdentifier("graft_sim_search"),
      info("graft_sim_search",
        "graft_sim_search('index_dir', 'queries_table_or_path', 'id_col', " +
          "'vec_col', k[, nprobe, version]) - ANN top-k over a PERSISTED " +
          "partition-pruned IVF index (graft.operators.Similarity" +
          ".writeIvfIndex); probed cells push as a static partition " +
          "filter; with a version (from graft_index_describe), TIME TRAVEL: " +
          "search the index exactly as committed then (valid until vacuum); " +
          "returns (qid, nid, rank, score)"),
      (args: Seq[Expression]) => { arity("graft_sim_search", args, 5, 6, 7)
        val dir = literalString(args(0), "graft_sim_search", "index_dir")
        val qref = literalString(args(1), "graft_sim_search", "queries_table_or_path")
        val qid = literalString(args(2), "graft_sim_search", "id_col")
        val vec = literalString(args(3), "graft_sim_search", "vec_col")
        val k = literalLong(args(4), "graft_sim_search", "k").toInt
        val nprobe = optLong(args, 5, 4L, "graft_sim_search", "nprobe").toInt
        val ver = if (args.size > 6)
          Some(literalLong(args(6), "graft_sim_search", "version")) else None
        GraftShims.analyzedPlan(graft.operators.Similarity.searchIvfIndexAt(
          active(), dir, resolveRef(qref), qid, vec, k, nprobe, ver)) }),
    (FunctionIdentifier("graft_sim_index_build"),
      info("graft_sim_index_build",
        "graft_sim_index_build('index_dir', 'vecs_table_or_path', 'id_col', " +
          "'vec_col'[, nlist]) - build and persist a partition-pruned IVF " +
          "ANN index (k-means coarse quantizer; cells partitioned by cell) " +
          "— the full index lifecycle from SQL: build here, then " +
          "graft_sim_search / graft_sim_index_add / _compact / _vacuum / " +
          "_drift; returns (dir, ok). Runs at EXECUTION time; building " +
          "into a LIVE index dir is a rebuild (fresh versioned tree, " +
          "running searches keep their snapshot, replay guard reset)"),
      (args: Seq[Expression]) => { arity("graft_sim_index_build", args, 4, 5)
        val dir = literalString(args(0), "graft_sim_index_build", "index_dir")
        val vref = literalString(args(1), "graft_sim_index_build", "vecs_table_or_path")
        val id = literalString(args(2), "graft_sim_index_build", "id_col")
        val vec = literalString(args(3), "graft_sim_index_build", "vec_col")
        val nlist = optLong(args, 4, 16L, "graft_sim_index_build", "nlist").toInt
        val session = active()
        procedure("graft_sim_index_build") { () =>
          Similarity.writeIvfIndex(
            Similarity.buildIvfIndex(resolveRef(session, vref), id, vec, nlist), dir)
          Seq(org.apache.spark.sql.Row(dir, true))
        } }),
    (FunctionIdentifier("graft_lsh_index_build"),
      info("graft_lsh_index_build",
        "graft_lsh_index_build('index_dir', 'vecs_table_or_path', 'id_col', " +
          "'vec_col', dim[, planes, tables]) - build and persist a " +
          "partition-pruned hyperplane-LSH ANN index ((tbl, bucket) " +
          "directories); returns (dir, ok). Runs at EXECUTION time"),
      (args: Seq[Expression]) => { arity("graft_lsh_index_build", args, 5, 6, 7)
        val dir = literalString(args(0), "graft_lsh_index_build", "index_dir")
        val vref = literalString(args(1), "graft_lsh_index_build", "vecs_table_or_path")
        val id = literalString(args(2), "graft_lsh_index_build", "id_col")
        val vec = literalString(args(3), "graft_lsh_index_build", "vec_col")
        val dim = literalLong(args(4), "graft_lsh_index_build", "dim").toInt
        val planes = optLong(args, 5, 8L, "graft_lsh_index_build", "planes").toInt
        val tables = optLong(args, 6, 4L, "graft_lsh_index_build", "tables").toInt
        val session = active()
        procedure("graft_lsh_index_build") { () =>
          Similarity.writeLshIndex(
            Similarity.buildLshIndex(resolveRef(session, vref), id, vec, dim, planes, tables), dir)
          Seq(org.apache.spark.sql.Row(dir, true))
        } }),
    (FunctionIdentifier("graft_dedup_index_build"),
      info("graft_dedup_index_build",
        "graft_dedup_index_build('index_dir', 'docs_table_or_path', " +
          "'id_col', 'text_col'[, k, num_hashes, bands, n_buckets]) - " +
          "build and persist a partition-pruned banded-MinHash dedup index " +
          "((band, bucket) directories, params sidecar); returns (dir, " +
          "ok). Runs at EXECUTION time"),
      (args: Seq[Expression]) => { arity("graft_dedup_index_build", args, 4, 5, 6, 7, 8)
        val dir = literalString(args(0), "graft_dedup_index_build", "index_dir")
        val dref = literalString(args(1), "graft_dedup_index_build", "docs_table_or_path")
        val id = literalString(args(2), "graft_dedup_index_build", "id_col")
        val text = literalString(args(3), "graft_dedup_index_build", "text_col")
        val k = optLong(args, 4, 3L, "graft_dedup_index_build", "k").toInt
        val nh = optLong(args, 5, 16L, "graft_dedup_index_build", "num_hashes").toInt
        val bands = optLong(args, 6, 4L, "graft_dedup_index_build", "bands").toInt
        val nBuckets = optLong(args, 7, 64L, "graft_dedup_index_build", "n_buckets").toInt
        val session = active()
        procedure("graft_dedup_index_build") { () =>
          graft.operators.Dedup.writeMinHashIndex(resolveRef(session, dref), id, text,
            dir, k = k, numHashes = nh, bands = bands, nBuckets = nBuckets)
          Seq(org.apache.spark.sql.Row(dir, true))
        } }),
    (FunctionIdentifier("graft_media_index_build"),
      info("graft_media_index_build",
        "graft_media_index_build('index_dir', 'media_table_or_path', " +
          "'id_col', 'payload_col'[, divisor]) - build and persist a " +
          "bucket-partitioned CDC chunk-library media dedup index; divisor " +
          "defaults to the 16 KiB deployment mean-chunk size (pass 16 only " +
          "for few-hundred-byte test payloads); returns (dir, ok). Runs at " +
          "EXECUTION time"),
      (args: Seq[Expression]) => { arity("graft_media_index_build", args, 4, 5)
        val dir = literalString(args(0), "graft_media_index_build", "index_dir")
        val mref = literalString(args(1), "graft_media_index_build", "media_table_or_path")
        val id = literalString(args(2), "graft_media_index_build", "id_col")
        val payload = literalString(args(3), "graft_media_index_build", "payload_col")
        val divisor = optLong(args, 4,
          graft.operators.Multimodal.DeploymentDivisor.toLong,
          "graft_media_index_build", "divisor").toInt
        val session = active()
        procedure("graft_media_index_build") { () =>
          graft.operators.Multimodal.writeMediaLibraryIndex(
            resolveRef(session, mref), id, payload, dir, divisor = divisor)
          Seq(org.apache.spark.sql.Row(dir, true))
        } }),
    (FunctionIdentifier("graft_pq_index_build"),
      info("graft_pq_index_build",
        "graft_pq_index_build('index_dir', 'vecs_table_or_path', 'id_col', " +
          "'vec_col'[, m, ksub]) - build and persist a product-quantization " +
          "ANN index (codebooks + m-code compressed corpus; ~3% of the " +
          "float bytes, ADC full-sweep search); returns (dir, ok). Runs at " +
          "EXECUTION time"),
      (args: Seq[Expression]) => { arity("graft_pq_index_build", args, 4, 5, 6)
        val dir = literalString(args(0), "graft_pq_index_build", "index_dir")
        val vref = literalString(args(1), "graft_pq_index_build", "vecs_table_or_path")
        val id = literalString(args(2), "graft_pq_index_build", "id_col")
        val vec = literalString(args(3), "graft_pq_index_build", "vec_col")
        val m = optLong(args, 4, 8L, "graft_pq_index_build", "m").toInt
        val ksub = optLong(args, 5, 16L, "graft_pq_index_build", "ksub").toInt
        val session = active()
        procedure("graft_pq_index_build") { () =>
          Similarity.writePqIndex(
            Similarity.buildPqIndex(resolveRef(session, vref), id, vec, m, ksub), dir)
          Seq(org.apache.spark.sql.Row(dir, true))
        } }),
    (FunctionIdentifier("graft_pq_index_add"),
      info("graft_pq_index_add",
        "graft_pq_index_add('index_dir', 'vecs_table_or_path', 'id_col', " +
          "'vec_col'[, 'batch_id']) - extend a persisted PQ index with new " +
          "vectors encoded under the index's own codebooks (fixed at " +
          "build; a rebuild mid-append aborts on the generation fence); " +
          "returns (dir, ok). Runs at EXECUTION time; with a batch_id, a " +
          "replayed statement is skipped (ok = false)"),
      (args: Seq[Expression]) => { arity("graft_pq_index_add", args, 4, 5)
        val dir = literalString(args(0), "graft_pq_index_add", "index_dir")
        val vref = literalString(args(1), "graft_pq_index_add", "vecs_table_or_path")
        val id = literalString(args(2), "graft_pq_index_add", "id_col")
        val vec = literalString(args(3), "graft_pq_index_add", "vec_col")
        val bid = if (args.size > 4)
          Some(literalString(args(4), "graft_pq_index_add", "batch_id")) else None
        val session = active()
        procedure("graft_pq_index_add") { () =>
          val applied = Similarity.appendToPqIndex(
            session, dir, resolveRef(session, vref), id, vec, bid)
          Seq(org.apache.spark.sql.Row(dir, applied))
        } }),
    (FunctionIdentifier("graft_pq_index_compact"),
      info("graft_pq_index_compact",
        "graft_pq_index_compact('index_dir') - fold a persisted PQ index's " +
          "delta trees to one, reader-transparently (search-invariant; one " +
          "CAS'd pointer flip); returns (dir, ok). Runs at EXECUTION time"),
      (args: Seq[Expression]) => { arity("graft_pq_index_compact", args, 1)
        val dir = literalString(args(0), "graft_pq_index_compact", "index_dir")
        val session = active()
        procedure("graft_pq_index_compact") { () =>
          Similarity.compactPqIndex(session, dir)
          Seq(org.apache.spark.sql.Row(dir, true))
        } }),
    (FunctionIdentifier("graft_pq_index_vacuum"),
      info("graft_pq_index_vacuum",
        "graft_pq_index_vacuum('index_dir') - reclaim PQ index trees and " +
          "sidecar generations no committed reader can reach; run AFTER a " +
          "grace period longer than any in-flight query and never " +
          "concurrently with an append; returns (dir, ok). Runs at " +
          "EXECUTION time"),
      (args: Seq[Expression]) => { arity("graft_pq_index_vacuum", args, 1)
        val dir = literalString(args(0), "graft_pq_index_vacuum", "index_dir")
        val session = active()
        procedure("graft_pq_index_vacuum") { () =>
          Similarity.vacuumPqIndex(session, dir)
          Seq(org.apache.spark.sql.Row(dir, true))
        } }),
    (FunctionIdentifier("graft_ivf_pq_index_build"),
      info("graft_ivf_pq_index_build",
        "graft_ivf_pq_index_build('index_dir', 'vecs_table_or_path', " +
          "'id_col', 'vec_col'[, nlist, m, ksub]) - build and persist the " +
          "composed IVF-PQ ANN index (cells prune at the planner, PQ codes " +
          "compress what they store - the billion-scale deployment shape); " +
          "returns (dir, ok). Runs at EXECUTION time"),
      (args: Seq[Expression]) => { arity("graft_ivf_pq_index_build", args, 4, 5, 6, 7)
        val dir = literalString(args(0), "graft_ivf_pq_index_build", "index_dir")
        val vref = literalString(args(1), "graft_ivf_pq_index_build", "vecs_table_or_path")
        val id = literalString(args(2), "graft_ivf_pq_index_build", "id_col")
        val vec = literalString(args(3), "graft_ivf_pq_index_build", "vec_col")
        val nlist = optLong(args, 4, 16L, "graft_ivf_pq_index_build", "nlist").toInt
        val m = optLong(args, 5, 8L, "graft_ivf_pq_index_build", "m").toInt
        val ksub = optLong(args, 6, 16L, "graft_ivf_pq_index_build", "ksub").toInt
        val session = active()
        procedure("graft_ivf_pq_index_build") { () =>
          val corpus = resolveRef(session, vref)
          Similarity.writeIvfPqIndex(corpus, id, vec, dir,
            Similarity.kmeansCentroids(corpus, id, vec, nlist),
            Similarity.pqCodebooks(corpus, id, vec, m, ksub))
          Seq(org.apache.spark.sql.Row(dir, true))
        } }),
    (FunctionIdentifier("graft_ivf_pq_index_add"),
      info("graft_ivf_pq_index_add",
        "graft_ivf_pq_index_add('index_dir', 'vecs_table_or_path', " +
          "'id_col', 'vec_col'[, 'batch_id']) - extend a persisted IVF-PQ " +
          "index: new vectors assigned to the EXISTING centroids and " +
          "encoded with the EXISTING codebooks (FAISS add(); rebuilds " +
          "fence in-flight appends); returns (dir, ok). Runs at EXECUTION " +
          "time; with a batch_id, a replayed statement is skipped " +
          "(ok = false)"),
      (args: Seq[Expression]) => { arity("graft_ivf_pq_index_add", args, 4, 5)
        val dir = literalString(args(0), "graft_ivf_pq_index_add", "index_dir")
        val vref = literalString(args(1), "graft_ivf_pq_index_add", "vecs_table_or_path")
        val id = literalString(args(2), "graft_ivf_pq_index_add", "id_col")
        val vec = literalString(args(3), "graft_ivf_pq_index_add", "vec_col")
        val bid = if (args.size > 4)
          Some(literalString(args(4), "graft_ivf_pq_index_add", "batch_id")) else None
        val session = active()
        procedure("graft_ivf_pq_index_add") { () =>
          val applied = Similarity.appendToIvfPqIndex(
            session, dir, resolveRef(session, vref), id, vec, bid)
          Seq(org.apache.spark.sql.Row(dir, applied))
        } }),
    (FunctionIdentifier("graft_ivf_pq_index_compact"),
      info("graft_ivf_pq_index_compact",
        "graft_ivf_pq_index_compact('index_dir') - fold a persisted IVF-PQ " +
          "index's delta trees to one file per cell, reader-transparently " +
          "(search-invariant; one CAS'd pointer flip); returns (dir, ok). " +
          "Runs at EXECUTION time"),
      (args: Seq[Expression]) => { arity("graft_ivf_pq_index_compact", args, 1)
        val dir = literalString(args(0), "graft_ivf_pq_index_compact", "index_dir")
        val session = active()
        procedure("graft_ivf_pq_index_compact") { () =>
          Similarity.compactIvfPqIndex(session, dir)
          Seq(org.apache.spark.sql.Row(dir, true))
        } }),
    (FunctionIdentifier("graft_ivf_pq_index_vacuum"),
      info("graft_ivf_pq_index_vacuum",
        "graft_ivf_pq_index_vacuum('index_dir') - reclaim IVF-PQ index " +
          "trees and sidecar generations no committed reader can reach; " +
          "run AFTER a grace period longer than any in-flight query and " +
          "never concurrently with an append; returns (dir, ok). Runs at " +
          "EXECUTION time"),
      (args: Seq[Expression]) => { arity("graft_ivf_pq_index_vacuum", args, 1)
        val dir = literalString(args(0), "graft_ivf_pq_index_vacuum", "index_dir")
        val session = active()
        procedure("graft_ivf_pq_index_vacuum") { () =>
          Similarity.vacuumIvfPqIndex(session, dir)
          Seq(org.apache.spark.sql.Row(dir, true))
        } }),
    (FunctionIdentifier("graft_ivf_pq_search"),
      info("graft_ivf_pq_search",
        "graft_ivf_pq_search('index_dir', 'queries_table_or_path', " +
          "'id_col', 'vec_col', k[, nprobe, version]) - ANN top-k over a " +
          "PERSISTED IVF-PQ index: the query's nprobe cells push as a " +
          "static partition filter AND scoring reads m small codes per " +
          "vector, never the floats; with a version, TIME TRAVEL to that " +
          "commit; returns (qid, nid, rank, adist)"),
      (args: Seq[Expression]) => { arity("graft_ivf_pq_search", args, 5, 6, 7)
        val dir = literalString(args(0), "graft_ivf_pq_search", "index_dir")
        val qref = literalString(args(1), "graft_ivf_pq_search", "queries_table_or_path")
        val qid = literalString(args(2), "graft_ivf_pq_search", "id_col")
        val vec = literalString(args(3), "graft_ivf_pq_search", "vec_col")
        val k = literalLong(args(4), "graft_ivf_pq_search", "k").toInt
        val nprobe = optLong(args, 5, 4L, "graft_ivf_pq_search", "nprobe").toInt
        val ver = if (args.size > 6)
          Some(literalLong(args(6), "graft_ivf_pq_search", "version")) else None
        GraftShims.analyzedPlan(Similarity.searchIvfPqIndexAt(
          active(), dir, resolveRef(qref), qid, vec, k, nprobe, ver)) }),
    (FunctionIdentifier("graft_pq_search"),
      info("graft_pq_search",
        "graft_pq_search('index_dir', 'queries_table_or_path', 'id_col', " +
          "'vec_col', k[, version]) - ADC top-k over a PERSISTED PQ index " +
          "(graft.operators.Similarity.writePqIndex); the corpus side " +
          "scans m small codes per vector, never the floats; with a " +
          "version, TIME TRAVEL to that commit; returns " +
          "(qid, nid, rank, adist)"),
      (args: Seq[Expression]) => { arity("graft_pq_search", args, 5, 6)
        val dir = literalString(args(0), "graft_pq_search", "index_dir")
        val qref = literalString(args(1), "graft_pq_search", "queries_table_or_path")
        val qid = literalString(args(2), "graft_pq_search", "id_col")
        val vec = literalString(args(3), "graft_pq_search", "vec_col")
        val k = literalLong(args(4), "graft_pq_search", "k").toInt
        val ver = if (args.size > 5)
          Some(literalLong(args(5), "graft_pq_search", "version")) else None
        GraftShims.analyzedPlan(Similarity.searchPqIndexAt(
          active(), dir, resolveRef(qref), qid, vec, k, ver)) }),
    (FunctionIdentifier("graft_lsh_search"),
      info("graft_lsh_search",
        "graft_lsh_search('index_dir', 'queries_table_or_path', 'id_col', " +
          "'vec_col', k[, version]) - ANN top-k over a PERSISTED partition-" +
          "pruned hyperplane-LSH index (graft.operators.Similarity" +
          ".writeLshIndex); probed (tbl, bucket) pairs push as a static " +
          "partition filter; with a version, TIME TRAVEL to that commit; " +
          "returns (qid, nid, rank, score)"),
      (args: Seq[Expression]) => { arity("graft_lsh_search", args, 5, 6)
        val dir = literalString(args(0), "graft_lsh_search", "index_dir")
        val qref = literalString(args(1), "graft_lsh_search", "queries_table_or_path")
        val qid = literalString(args(2), "graft_lsh_search", "id_col")
        val vec = literalString(args(3), "graft_lsh_search", "vec_col")
        val k = literalLong(args(4), "graft_lsh_search", "k").toInt
        val ver = if (args.size > 5)
          Some(literalLong(args(5), "graft_lsh_search", "version")) else None
        GraftShims.analyzedPlan(graft.operators.Similarity.searchLshIndexAt(
          active(), dir, resolveRef(qref), qid, vec, k, ver)) }),
    (FunctionIdentifier("graft_lsh_index_add"),
      info("graft_lsh_index_add",
        "graft_lsh_index_add('index_dir', 'vecs_table_or_path', 'id_col', " +
          "'vec_col'[, 'batch_id']) - extend a persisted LSH index with new " +
          "vectors, bucketed under the index's own sidecar params " +
          "(positionally-derived hyperplanes: the result is bit-identical " +
          "to a one-pass build); returns (dir, ok). Runs at EXECUTION time; " +
          "with a batch_id, a replayed statement is skipped (ok = false)"),
      (args: Seq[Expression]) => { arity("graft_lsh_index_add", args, 4, 5)
        val dir = literalString(args(0), "graft_lsh_index_add", "index_dir")
        val vref = literalString(args(1), "graft_lsh_index_add", "vecs_table_or_path")
        val id = literalString(args(2), "graft_lsh_index_add", "id_col")
        val vec = literalString(args(3), "graft_lsh_index_add", "vec_col")
        val bid = if (args.size > 4)
          Some(literalString(args(4), "graft_lsh_index_add", "batch_id")) else None
        val session = active()
        procedure("graft_lsh_index_add") { () =>
          val applied = graft.operators.Similarity.appendToLshIndex(
            session, dir, resolveRef(session, vref), id, vec, bid)
          Seq(org.apache.spark.sql.Row(dir, applied))
        } }),
    (FunctionIdentifier("graft_lsh_index_compact"),
      info("graft_lsh_index_compact",
        "graft_lsh_index_compact('index_dir') - fold a persisted LSH " +
          "index's delta trees to one file per (tbl, bucket), reader-" +
          "transparently (search-invariant; one CAS'd pointer flip); " +
          "returns (dir, ok). Runs at EXECUTION time"),
      (args: Seq[Expression]) => { arity("graft_lsh_index_compact", args, 1)
        val dir = literalString(args(0), "graft_lsh_index_compact", "index_dir")
        val session = active()
        procedure("graft_lsh_index_compact") { () =>
          graft.operators.Similarity.compactLshIndex(session, dir)
          Seq(org.apache.spark.sql.Row(dir, true))
        } }),
    (FunctionIdentifier("graft_lsh_index_vacuum"),
      info("graft_lsh_index_vacuum",
        "graft_lsh_index_vacuum('index_dir') - reclaim LSH index trees no " +
          "committed reader can reach (superseded by compaction, or " +
          "orphaned by a crashed append); run AFTER a grace period longer " +
          "than any in-flight query and never concurrently with an append; " +
          "returns (dir, ok). Runs at EXECUTION time"),
      (args: Seq[Expression]) => { arity("graft_lsh_index_vacuum", args, 1)
        val dir = literalString(args(0), "graft_lsh_index_vacuum", "index_dir")
        val session = active()
        procedure("graft_lsh_index_vacuum") { () =>
          graft.operators.Similarity.vacuumLshIndex(session, dir)
          Seq(org.apache.spark.sql.Row(dir, true))
        } }),
    (FunctionIdentifier("graft_dedup_index_vacuum"),
      info("graft_dedup_index_vacuum",
        "graft_dedup_index_vacuum('index_dir') - reclaim MinHash dedup " +
          "index trees no committed reader can reach (superseded by " +
          "compaction, or orphaned by a crashed append); run AFTER a grace " +
          "period longer than any in-flight query and never concurrently " +
          "with an append; returns (dir, ok). Runs at EXECUTION time"),
      (args: Seq[Expression]) => { arity("graft_dedup_index_vacuum", args, 1)
        val dir = literalString(args(0), "graft_dedup_index_vacuum", "index_dir")
        val session = active()
        procedure("graft_dedup_index_vacuum") { () =>
          graft.operators.Dedup.vacuumMinHashIndex(session, dir)
          Seq(org.apache.spark.sql.Row(dir, true))
        } }))

  /** Shared input resolution of the pipeline-operator TVFs: first arg names
    * the corpus — a '/'-containing path (an eslog STREAM dir if it carries
    * the metadata log, else parquet) or a table/temp view name — second
    * and third its id/text columns. Stream-dir support means a screening
    * TVF composes directly over ingested data:
    * `graft_text_stats('/streams/crawl', 'base_offset', 'payload')`. */
  private def opInput(fn: String, args: Seq[Expression],
                      textual: Boolean = true): (org.apache.spark.sql.DataFrame, String, String) = {
    val ref = literalString(args(0), fn, "table_or_path")
    val id = literalString(args(1), fn, "id_col")
    val text = literalString(args(2), fn, "text_col")
    val df = resolveRef(ref)
    // text operators take a STRING column; an eslog payload arrives binary —
    // resolve case-insensitively like Spark does and cast in place. The
    // media TVF passes textual=false: its payload must STAY binary (a
    // string roundtrip is lossy on non-UTF-8 bytes).
    val isBinary = textual && df.schema.exists(f =>
      f.name.equalsIgnoreCase(text) && f.dataType == org.apache.spark.sql.types.BinaryType)
    val dfText = if (isBinary)
      df.withColumn(text, org.apache.spark.sql.functions.col(text).cast("string"))
    else df
    (dfText, id, text)
  }

  /** Corpus reference resolution shared by every operator TVF: a
    * '/'-containing path is an eslog stream dir (if it carries the
    * metadata log) or a parquet dir; anything else is a catalog table /
    * temp view name. */
  private def resolveRef(ref: String): org.apache.spark.sql.DataFrame =
    resolveRef(active(), ref)

  /** Session-explicit [[resolveRef]] — DEFERRED procedure thunks must use
    * this with a session captured at BUILDER time: a thunk runs when the
    * plan executes, possibly on a thread whose active session differs (or
    * is unset), and resolving the corpus there would read the wrong
    * catalog. */
  private def resolveRef(spark: SparkSession,
                         ref: String): org.apache.spark.sql.DataFrame =
    if (!ref.contains("/")) spark.table(ref)
    else if (graft.meta.MetaLog.exists(ref)) EsLog.scan(spark, ref)
    else spark.read.parquet(ref)

  private def optLong(args: Seq[Expression], i: Int, default: Long,
                      fn: String, pos: String): Long =
    if (args.size > i) literalLong(args(i), fn, pos) else default

  /** Deferred (dir, ok) procedure plan: the thunk runs when the statement
    * EXECUTES, not when it resolves — see
    * [[org.apache.spark.sql.graftshim.GraftProcedureCall]]. */
  private def procedure(name: String)
                       (run: () => Seq[org.apache.spark.sql.Row]): LogicalPlan =
    org.apache.spark.sql.graftshim.GraftProcedureCall(name,
      org.apache.spark.sql.graftshim.GraftProcedureCall.dirOkOutput(), run)

  /** One-row LocalRelation result for the procedure-style DDL functions. */
  private def localRow(fields: Seq[(String, Any)]): LogicalPlan = {
    val spark = active()
    import org.apache.spark.sql.types._
    val schema = StructType(fields.map {
      case (n, _: String)  => StructField(n, StringType, nullable = false)
      case (n, _: Long)    => StructField(n, LongType, nullable = false)
      case (n, _: Int)     => StructField(n, IntegerType, nullable = false)
      case (n, _: Boolean) => StructField(n, BooleanType, nullable = false)
      case (n, v) => throw new IllegalStateException(s"unsupported DDL field $n: $v")
    })
    GraftShims.analyzedPlan(spark.createDataFrame(
      java.util.Collections.singletonList(
        org.apache.spark.sql.Row.fromSeq(fields.map(_._2))),
      schema))
  }

  private def active(): SparkSession =
    SparkSession.getActiveSession.getOrElse(
      throw new IllegalStateException("no active SparkSession for graft table function"))

  /** Create-or-replace everything on a live session. */
  def register(spark: SparkSession): Unit = {
    scalar.foreach { case (id, i, b) =>
      GraftShims.registerSqlFunction(spark, id.funcName, i, b) }
    table.foreach { case (id, i, b) =>
      GraftShims.registerSqlTableFunction(spark, id.funcName, i, b) }
    // live-session twin of injectPlannerStrategy: the execution-time
    // procedure plans must be plannable on sessions that never saw the
    // extensions hook (Verify, notebooks)
    val procs = org.apache.spark.sql.graftshim.GraftProcedureStrategy
    GraftShims.registerOnce(spark)(_.extraStrategies.contains(procs))(
      e => e.extraStrategies = e.extraStrategies :+ procs)
  }
}
