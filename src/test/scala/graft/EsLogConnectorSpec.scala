package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, RDDScanExec, RowDataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{EsLogManifestFileIndex, EsLogRowBounds}
import org.apache.spark.sql.streaming.Trigger

import graft.eslog.{EsLog, HotCache}
import graft.meta.MetaLog

/** format("eslog") connector: batch read (pushdown pruning), batch write,
  * streaming source (rate-limited micro-batches), streaming sink
  * (epoch-fenced, batch-id idempotent). */
class EsLogConnectorSpec extends SparkTestBase {

  private def mkStream(n: Int): String = {
    val dir = tmpDir("conn-")
    EsLog.create(dir, streamId = 5L)
    EsLog.open(dir, 1L)
    val in = spark.range(n).select(
      col("id"),
      col("id").cast("string").cast("binary").as("payload"),
      (col("id") * 10).as("base_timestamp"))
    EsLog.append(spark, dir, in, 1L, sortKey = Some("id"), numPartitions = 4)
    dir
  }

  private object Plans extends AdaptiveSparkPlanHelper

  private def manifestScans(p: SparkPlan): Seq[FileSourceScanExec] =
    Plans.collectWithSubqueries(p) {
      case s: FileSourceScanExec if s.relation.location.isInstanceOf[EsLogManifestFileIndex] => s
    }

  /** The read ran as one native scan over the manifest index — or, over
    * no file at all, as the empty local relation the optimizer makes of
    * it — with no Row-RDD relation anywhere in its executed plan. */
  private def assertOnePath(df: DataFrame): Unit = assertOnePath(df.queryExecution.executedPlan)

  private def assertOnePath(p: SparkPlan): Unit = {
    val noFile = Plans.collectWithSubqueries(p) {
      case l: LocalTableScanExec if l.rows.isEmpty => l
    }
    assert(manifestScans(p).nonEmpty || noFile.nonEmpty, p.toString)
    assert(Plans.collectWithSubqueries(p) {
      case r: RowDataSourceScanExec => r
      case r: RDDScanExec => r
    }.isEmpty, p.toString)
  }

  private def boundedIndexes(p: LogicalPlan): Seq[EsLogManifestFileIndex] = p.collect {
    case l: LogicalRelation => l.relation match {
      case fs: HadoopFsRelation => fs.location match {
        case idx: EsLogManifestFileIndex if idx.bounds.nonEmpty => Seq(idx)
        case _ => Nil
      }
      case _ => Nil
    }
  }.flatten

  private type Batch = (Long, Int, Long, String)

  private def batches(df: DataFrame): Seq[Batch] =
    df.select(col("base_offset"), col("last_offset_delta"), col("base_timestamp"),
      col("payload").cast("string")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3))).toSeq.sorted

  /** 240 batches whose `last_offset_delta` cycles 1..4 (offsets [0, 600),
    * ts = 10 × id) in 4 files, trimmed at offset 7 inside the batch
    * covering [6, 10); `v0` is the version before a second commit of 40
    * batches (offsets [600, 700)) in 2 files. Also returns every committed
    * batch, trimmed ones included, read without bounds. */
  private def mkMultiOffsetStream(): (String, Long, Seq[Batch]) = {
    val dir = tmpDir("onepath-")
    EsLog.create(dir, streamId = 21L)
    EsLog.open(dir, 1L)
    def input(from: Long, n: Long) = spark.range(from, from + n).select(
      col("id"), col("id").cast("string").cast("binary").as("payload"),
      (col("id") % 4 + 1).as("last_offset_delta"), (col("id") * 10).as("base_timestamp"))
    EsLog.append(spark, dir, input(0, 240), 1L, sortKey = Some("id"), numPartitions = 4)
    EsLog.trim(dir, 7L)
    val v0 = MetaLog.load(dir).version
    EsLog.append(spark, dir, input(240, 40), 1L, sortKey = Some("id"), numPartitions = 2)
    val st = MetaLog.load(dir)
    assert(st.startOffset == 7L && st.nextOffset == 700L && st.allFiles.size == 6)
    (dir, v0, batches(EsLog.readFiles(spark, dir, st.allFiles)))
  }

  /** The reference straddle model: batches with `base_offset < hi` reaching
    * past `lo`, none of them ending at or below the trim offset 7. */
  private def straddling(all: Seq[Batch], lo: Long, hi: Long): Seq[Batch] =
    all.filter { case (o, d, _, _) => o < hi && o + d > math.max(lo, 7L) }

  test("batch read through format(eslog) matches EsLog.scan") {
    val dir = mkStream(500)
    val viaFormat = spark.read.format("eslog").load(dir)
    assert(viaFormat.schema == graft.model.RecordBatchRow.schema)
    assert(viaFormat.count() == 500)
    val direct = EsLog.scan(spark, dir).select("base_offset").collect().map(_.getLong(0)).sorted
    val conn = viaFormat.select("base_offset").collect().map(_.getLong(0)).sorted
    assert(direct.sameElements(conn))
  }

  test("default batch read is the native vectorized parquet path (no Row conversion)") {
    val dir = mkStream(500)
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val q = spark.read.format("eslog").load(dir)
      .where(col("base_offset") >= 100 && col("base_offset") < 200)
      .select("base_offset")
    val plan = q.queryExecution.executedPlan.toString
    // native FileSourceScan, codegen'd, with pruned schema and pushed filters —
    // NOT the V1 ExistingRDD bridge that exits Tungsten
    assert(!plan.contains("ExistingRDD"), plan)
    assert(plan.contains("FileScan parquet") && plan.contains("Batched: true"), plan)
    assert(plan.contains("*(1)"), plan) // whole-stage codegen span
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("base_offset") && !readSchema.contains("payload"), readSchema)
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(base_offset,100)"), plan)
    assert(q.collect().map(_.getLong(0)).sorted.sameElements(100L until 200L))
    // manifest stats drive file pruning: only files overlapping the bound scan
    val scanned = q.queryExecution.executedPlan.collectLeaves().head.metrics
    assert(scanned.contains("numFiles") && scanned("numFiles").value <= 2,
      scanned.get("numFiles").map(_.value).toString)
  }

  test("Long.MaxValue bounds don't overflow manifest pruning") {
    val dir = mkStream(100)
    // `<= Long.MaxValue` / `=== Long.MaxValue` used to wrap hi to
    // Long.MinValue (value + 1 overflow) and prune every file
    assert(spark.read.format("eslog").load(dir)
      .where(col("base_offset") <= Long.MaxValue).count() == 100)
    assert(spark.read.format("eslog").load(dir)
      .where(col("base_offset") === Long.MaxValue).count() == 0)
    assert(spark.read.format("eslog").load(dir)
      .where(col("base_timestamp") <= Long.MaxValue).count() == 100)
  }

  test("native path prunes files by manifest timestamp stats") {
    val dir = mkStream(1000) // ts = offset * 10, 4 files
    val q = spark.read.format("eslog").load(dir)
      .where(col("base_timestamp") >= 9000L) // only the last file qualifies
      .select("base_offset")
    assert(q.collect().length == 100)
    val scan = q.queryExecution.executedPlan.collectLeaves().head
    assert(scan.metrics("numFiles").value == 1,
      s"expected 1 file after ts pruning, got ${scan.metrics("numFiles").value}")
  }

  test("empty stream reads as an empty relation (both paths)") {
    val dir = tmpDir("empty-")
    EsLog.create(dir, streamId = 13L)
    assert(spark.read.format("eslog").load(dir).count() == 0)
    assert(spark.read.format("eslog")
      .option("startOffset", "0").option("endOffset", "10").load(dir).count() == 0)
    assert(EsLog.scan(spark, dir).count() == 0)
  }

  test("mid-file trim reads through the bounded manifest scan") {
    val dir = tmpDir("trimfb-")
    EsLog.create(dir, streamId = 12L)
    EsLog.open(dir, 1L)
    val in = spark.range(100).select(
      col("id"), col("id").cast("string").cast("binary").as("payload"))
    EsLog.append(spark, dir, in, 1L, sortKey = Some("id"), numPartitions = 2)
    EsLog.trim(dir, 30L) // inside the first file [0, 50)
    val viaFormat = spark.read.format("eslog").load(dir)
      .select("base_offset").collect().map(_.getLong(0)).sorted
    val direct = EsLog.scan(spark, dir)
      .select("base_offset").collect().map(_.getLong(0)).sorted
    assert(viaFormat.sameElements(direct))
    assert(viaFormat.head == 30L && viaFormat.length == 70)
    assertOnePath(spark.read.format("eslog").load(dir))
  }

  test("every read API plans one manifest scan, rows = fetch's") {
    val (dir, v0, all) = mkMultiOffsetStream()
    val files = MetaLog.load(dir).allFiles.sortBy(_.startOffset)
    val mid = files(1)
    // straddling batches at lo, file edges, ranges across an edge, empty,
    // inverted and past-the-head ranges
    val ranges = Seq((0L, 700L), (8L, 45L), (2L, 9L), (mid.startOffset + 1, mid.endOffset + 3),
      (mid.startOffset, mid.endOffset), (files(2).endOffset - 2, files(3).startOffset + 2),
      (50L, 50L), (300L, 200L), (650L, 10000L), (10000L, 20000L))
    def range(lo: Long, hi: Long) = spark.read.format("eslog")
      .option("startOffset", lo.toString).option("endOffset", hi.toString)
    ranges.foreach { case (lo, hi) =>
      val expect = straddling(all, lo, hi)
      val fetched = EsLog.fetch(spark, dir, lo, hi)
      assert(batches(fetched) == expect, s"fetch [$lo, $hi)")
      val viaFormat = range(lo, hi).load(dir)
      assert(batches(viaFormat) == expect, s"format(eslog) [$lo, $hi)")
      assertOnePath(viaFormat)
      assertOnePath(fetched)
      // time travel: the snapshot before the second commit ends at 600
      val asOf = range(lo, hi).option("asOfVersion", v0.toString).load(dir)
      assert(batches(asOf) == straddling(all, lo, math.min(hi, 600L)), s"asOfVersion [$lo, $hi)")
      assert(batches(asOf) == batches(EsLog.fetchAt(spark, dir, v0, lo, hi)))
      assertOnePath(asOf)
    }
    // the mid-file-trimmed stream read whole: the trim is the only bound
    val whole = spark.read.format("eslog").load(dir)
    assert(batches(whole) == straddling(all, 0L, 700L))
    assert(batches(whole) == batches(EsLog.fetch(spark, dir)))
    assertOnePath(whole)
    // fetchByTime (ts = 10 × id): the window [20, 40) holds the batch at
    // offset 3 (trimmed whole) and the one at 6 (straddles the trim)
    Seq((0L, 100000L), (20L, 40L), (35L, 95L), (2395L, 5000L), (40L, 40L)).foreach { case (from, until) =>
      val byTime = EsLog.fetchByTime(spark, dir, from, until)
      assert(batches(byTime) == straddling(all, 0L, 700L).filter(b => b._3 >= from && b._3 < until),
        s"fetchByTime [$from, $until)")
      assertOnePath(byTime)
    }
    // the timestamp index resolves through the same bounded read
    assert(EsLog.offsetForTimestamp(spark, dir, 25L) == 7L)
    assert(EsLog.offsetForTimestamp(spark, dir, 41L) == 11L)
    assert(EsLog.offsetForTimestamp(spark, dir, 1000000L) == 700L)
  }

  test("bounded relation: count scans exactly; rule idempotent") {
    val (dir, _, all) = mkMultiOffsetStream()
    val df = spark.read.format("eslog")
      .option("startOffset", "8").option("endOffset", "45").load(dir)
    val counted = df.groupBy().count()
    assert(counted.collect().head.getLong(0) == straddling(all, 8L, 45L).size)
    assertOnePath(counted)
    assert(df.count() == straddling(all, 8L, 45L).size)
    // the rule replaces the bounded index by a Filter over the unbounded
    // relation, once: its own output is a fixed point
    val analyzed = df.queryExecution.analyzed
    assert(boundedIndexes(analyzed).size == 1)
    val once = EsLogRowBounds(analyzed)
    assert(boundedIndexes(once).isEmpty && once.collectFirst { case f: Filter => f }.nonEmpty, once)
    assert(EsLogRowBounds(once).fastEquals(once))
    assert(boundedIndexes(df.queryExecution.optimizedPlan).isEmpty)
    // a range on file edges excludes no row: no bound, no Filter, and the
    // count is the manifest's again
    val f = MetaLog.load(dir).allFiles.sortBy(_.startOffset).apply(2)
    val edges = spark.read.format("eslog").option("startOffset", f.startOffset.toString)
      .option("endOffset", f.endOffset.toString).load(dir)
    assert(boundedIndexes(edges.queryExecution.analyzed).isEmpty)
    val edgeCount = edges.groupBy().count()
    assert(edgeCount.collect().head.getLong(0) == f.rows)
    assert(manifestScans(edgeCount.queryExecution.executedPlan).isEmpty)
    // a session that never loaded the extensions' rules gets the rule
    // registered by the provider that builds its bounded relation
    val fresh = spark.newSession()
    assert(!fresh.experimental.extraOptimizations.contains(EsLogRowBounds))
    val viaFresh = fresh.read.format("eslog")
      .option("startOffset", "8").option("endOffset", "45").load(dir)
    assert(batches(viaFresh) == straddling(all, 8L, 45L))
    assert(fresh.experimental.extraOptimizations.count(_ == EsLogRowBounds) == 1)
    fresh.read.format("eslog").option("startOffset", "9").load(dir).count()
    assert(fresh.experimental.extraOptimizations.count(_ == EsLogRowBounds) == 1)
  }

  test("streaming micro-batches plan the manifest scan exactly") {
    val (dir, _, all) = mkMultiOffsetStream()
    val ckpt = tmpDir("ckpt-onepath-")
    // 37 offsets per trigger: trigger bounds fall inside multi-offset
    // batches, which the strict later micro-batches must deliver once
    val q = spark.readStream.format("eslog").option("maxOffsetsPerTrigger", "37")
      .load(dir)
      .writeStream.format("memory").queryName("onepath_drain")
      .outputMode("append").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(q.recentProgress.count(_.numInputRows > 0) >= 10)
    assert(batches(spark.table("onepath_drain")) == straddling(all, 0L, 700L))
    val last = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution
    assertOnePath(last.executedPlan)
  }

  test("HotCache-split fetch: cold rest on the manifest scan") {
    val (dir, _, all) = mkMultiOffsetStream()
    val tail = MetaLog.load(dir).allFiles.sortBy(_.startOffset).takeRight(2)
    try {
      HotCache.clear()
      spark.conf.set(HotCache.GLOBAL_BYTES, (64L * 1024 * 1024).toString)
      spark.conf.set(HotCache.STREAM_BYTES, tail.map(_.bytes).sum.toString)
      Seq((8L, 700L), (2L, 650L), (620L, 700L)).foreach { case (lo, hi) =>
        val df = EsLog.fetch(spark, dir, lo, hi)
        assert(batches(df) == straddling(all, lo, hi), s"hot fetch [$lo, $hi)")
        val p = df.queryExecution.executedPlan
        assert(Plans.collectWithSubqueries(p) { case m: InMemoryTableScanExec => m }.nonEmpty,
          p.toString)
        if (lo < tail.head.startOffset) assertOnePath(p)
      }
      assert(HotCache.resident.keySet == tail.map(f => MetaLog.join(dir, f.path)).toSet)
    } finally {
      spark.conf.unset(HotCache.GLOBAL_BYTES)
      spark.conf.unset(HotCache.STREAM_BYTES)
      HotCache.clear()
    }
  }

  test("filter pushdown prunes through the manifest (offset + timestamp)") {
    val dir = mkStream(1000)
    val q = spark.read.format("eslog").load(dir)
      .where(col("base_offset") >= 100 && col("base_offset") < 110)
    val offs = q.select("base_offset").collect().map(_.getLong(0)).sorted
    assert(offs.sameElements(100L until 110L))
    // timestamp bounds prune too (ts = offset * 10)
    val t = spark.read.format("eslog").load(dir)
      .where(col("base_timestamp") >= 9900L)
    assert(t.count() == 10)
    // explicit fetch-range options give straddle semantics
    val opt = spark.read.format("eslog")
      .option("startOffset", "40").option("endOffset", "60").load(dir)
    assert(opt.count() == 20)
  }

  test("batch write through format(eslog) appends with epoch fencing") {
    val dir = tmpDir("connw-")
    EsLog.create(dir, streamId = 6L)
    EsLog.open(dir, 3L)
    val df = spark.range(100).select(
      col("id"), col("id").cast("string").cast("binary").as("payload"))
    df.write.format("eslog").option("epoch", "3").option("sortKey", "id")
      .mode("append").save(dir)
    assert(EsLog.nextOffset(dir) == 100L)
    // stale epoch is fenced
    assertThrows[graft.meta.FencedException] {
      df.write.format("eslog").option("epoch", "2").mode("append").save(dir)
    }
    df.write.format("eslog").option("epoch", "3").mode("append").save(dir)
    assert(EsLog.nextOffset(dir) == 200L)
  }

  test("streaming source: rate-limited micro-batches drain exactly once") {
    val dir = mkStream(1000)
    val ckpt = tmpDir("ckpt-")
    val q = spark.readStream.format("eslog")
      .option("maxOffsetsPerTrigger", "256")
      .load(dir)
      .groupBy().agg(count(lit(1)).as("n"), sum("base_offset").as("s"))
      .writeStream.format("memory").queryName("src_drain")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val row = spark.table("src_drain").collect().head
    assert(row.getLong(0) == 1000L)
    assert(row.getLong(1) == (0L until 1000L).sum)
    // rate limit produced multiple micro-batches
    assert(q.recentProgress.length >= 4, s"expected >=4 batches, got ${q.recentProgress.length}")
  }

  test("metadata-only count(*): answered from the manifest, zero file scan") {
    val dir = mkStream(1000)
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    // unfiltered count(*) collapses to a LocalTableScan — no FileScan at all
    val q = spark.read.format("eslog").load(dir).groupBy().count()
    assert(q.collect().head.getLong(0) == 1000L)
    assert(!planOf(q).contains("FileScan"), planOf(q))
    assert(planOf(q).contains("LocalTableScan"), planOf(q))
    // ... and from SQL through the TVF
    val s = spark.sql(s"SELECT count(*) AS n FROM graft_scan('$dir')")
    assert(s.collect().head.getLong(0) == 1000L)
    assert(!planOf(s).contains("FileScan"), planOf(s))
    // min(base_offset) / min/max(base_timestamp) are metadata too; a mixed
    // aggregate with them stays metadata-only (ts = offset * 10 here)
    val m = spark.read.format("eslog").load(dir)
      .agg(count(lit(1)).as("n"), min("base_offset").as("lo"),
        min("base_timestamp").as("t0"), max("base_timestamp").as("t1"))
    val mr = m.collect().head
    assert(mr.getLong(0) == 1000L && mr.getLong(1) == 0L &&
      mr.getLong(2) == 0L && mr.getLong(3) == 9990L)
    assert(!planOf(m).contains("FileScan"), planOf(m))
    // max(base_offset) is NOT derivable from the manifest: must scan
    val mx = spark.read.format("eslog").load(dir).agg(max("base_offset"))
    assert(planOf(mx).contains("FileScan"), planOf(mx))
    assert(mx.collect().head.getLong(0) == 999L)
    // a projection that SHADOWS a stats column with a computed value must
    // never be answered from raw manifest stats (identity check by exprId)
    val sh = spark.read.format("eslog").load(dir)
      .withColumn("base_timestamp", col("base_offset") * 1000L)
      .agg(min("base_timestamp").as("t0"), max("base_timestamp").as("t1"))
    val shr = sh.collect().head
    assert(shr.getLong(0) == 0L && shr.getLong(1) == 999000L,
      s"shadowed column answered wrong: $shr")
    // a filter blocks the rewrite and still counts correctly through the scan
    val f = spark.read.format("eslog").load(dir)
      .where(col("base_offset") >= 500).groupBy().count()
    assert(planOf(f).contains("FileScan"), planOf(f))
    assert(f.collect().head.getLong(0) == 500L)
    // count(DISTINCT x) is not a count(*): must scan
    val d = spark.read.format("eslog").load(dir)
      .agg(countDistinct(col("base_offset")))
    assert(planOf(d).contains("FileScan"), planOf(d))
    assert(d.collect().head.getLong(0) == 1000L)
    // mid-file trim: the index carries the trim as a row bound, so it has
    // no metadata answer; the bounded scan counts exactly
    EsLog.trim(dir, 30L)
    val t = spark.read.format("eslog").load(dir).groupBy().count()
    assert(t.collect().head.getLong(0) == 970L)
    assert(planOf(t).contains("FileScan"), planOf(t))
    // boundary trim: manifest path again, metadata answer reflects the trim
    EsLog.trim(dir, 250L) // file boundary (4 files x 250)
    val b = spark.read.format("eslog").load(dir).groupBy().count()
    assert(b.collect().head.getLong(0) == 750L)
    assert(!planOf(b).contains("FileScan"), planOf(b))
  }

  test("streaming startingTimestamp resolves through the time index") {
    val dir = mkStream(1000) // ts = offset * 10
    val ckpt = tmpDir("ckpt-ts-")
    val q = spark.readStream.format("eslog")
      .option("startingTimestamp", "5000") // resolves to offset 500
      .load(dir)
      .groupBy().agg(count(lit(1)).as("n"), min("base_offset").as("lo"))
      .writeStream.format("memory").queryName("ts_start")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val row = spark.table("ts_start").collect().head
    assert(row.getLong(0) == 500L && row.getLong(1) == 500L)
    // mutually exclusive with startingOffsets — refuse loudly
    val bad = intercept[Exception] {
      spark.readStream.format("eslog")
        .option("startingTimestamp", "5000").option("startingOffsets", "earliest")
        .load(dir)
        .writeStream.format("memory").queryName("ts_bad")
        .trigger(Trigger.AvailableNow()).start().awaitTermination(60000)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(bad).exists(_.contains("mutually exclusive")), msgs(bad))
  }

  test("stream-stream join equals the batch join under aggressive chunking") {
    // scrambled event times (ts NOT correlated with offsets) + tiny admission
    // limits force matches to straddle many micro-batches; with watermark
    // delay covering the disorder, the streaming inner join must still emit
    // exactly the batch-join rows.
    val dir = tmpDir("join-")
    EsLog.create(dir, streamId = 6L)
    EsLog.open(dir, 1L)
    val n = 400
    val in = spark.range(n).select(
      col("id"),
      col("id").cast("string").cast("binary").as("payload"),
      // scrambled minute timestamps within a day (97 coprime with 1440 →
      // full-cycle permutation); consecutive ids sit ~97 min apart, inside
      // the 2-hour window except where the day wraps. Shifted +1 day: a ts
      // of exactly epoch 0 collides with Spark's initial watermark value
      // and is dropped as late — a real API edge, avoided in real data.
      ((col("id") * 97) % 1440 * 60000L + 86400000L).as("base_timestamp"))
    EsLog.append(spark, dir, in, 1L, sortKey = Some("id"), numPartitions = 4)
    def side = spark.readStream.format("eslog")
      .option("maxOffsetsPerTrigger", "64")
      .load(dir)
      .withColumn("ts", timestamp_millis(col("base_timestamp")))
    val evens = side.where(col("base_offset") % 2 === 0)
      .select(expr("base_offset div 2").as("p"), col("base_offset").as("even_id"),
        col("ts").as("even_ts"))
      .withWatermark("even_ts", "2 days")
    val odds = side.where(col("base_offset") % 2 === 1)
      .select(expr("base_offset div 2").as("p2"), col("base_offset").as("odd_id"),
        col("ts").as("odd_ts"))
      .withWatermark("odd_ts", "2 days")
    val q = evens.join(odds,
        col("p") === col("p2") &&
          col("odd_ts") >= col("even_ts") - expr("INTERVAL 2 HOURS") &&
          col("odd_ts") <= col("even_ts") + expr("INTERVAL 2 HOURS"))
      .select(col("even_id"), col("odd_id"))
      .writeStream.format("memory").queryName("ss_join")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("ss_join").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch twin over the same committed data
    val b = EsLog.scan(spark, dir)
      .select(col("base_offset"), col("base_timestamp"))
    val want = b.as("a").join(b.as("b"),
        col("a.base_offset") % 2 === 0 && col("b.base_offset") % 2 === 1 &&
          expr("a.base_offset div 2") === expr("b.base_offset div 2") &&
          abs(col("a.base_timestamp") - col("b.base_timestamp")) <= 2L * 3600 * 1000)
      .select(col("a.base_offset"), col("b.base_offset")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty && got == want,
      s"streaming ${got.size} vs batch ${want.size} pairs")
  }

  test("streaming source: maxBytesPerTrigger caps micro-batches by manifest file sizes") {
    val dir = mkStream(1000) // 4 files (numPartitions = 4)
    val fileBytes = graft.meta.MetaLog.load(dir).allFiles.map(_.bytes)
    val ckpt = tmpDir("ckptb-")
    val q = spark.readStream.format("eslog")
      .option("maxBytesPerTrigger", fileBytes.min.toString) // ~one file per trigger
      .load(dir)
      .groupBy().agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("bytes_drain")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(spark.table("bytes_drain").collect().head.getLong(0) == 1000L)
    assert(q.recentProgress.length >= 4, s"expected >=4 byte-capped batches, got ${q.recentProgress.length}")
  }

  test("metadata watch source streams the log as a versioned change feed") {
    val dir = tmpDir("watch-")
    EsLog.create(dir, streamId = 8L)          // v0 createStream
    EsLog.open(dir, 1L)                        // v1 openStream
    EsLog.putKV(dir, "a", "1")                 // v2 kvPut
    val q = spark.readStream.format("eslog")
      .option("watch", "metadata")
      .load(dir)
      .writeStream.format("memory").queryName("meta_watch")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val rows = spark.table("meta_watch").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(rows.toSeq == Seq((0L, 0L, "createStream"), (1L, 0L, "openStream"), (2L, 0L, "kvPut")))
  }

  test("watch sources under Trigger.AvailableNow deliver up to the version pinned at start, then stop") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import scala.jdk.CollectionConverters._
    val dir = tmpDir("watch-now-")
    EsLog.create(dir, streamId = 8L)          // v0 createStream
    EsLog.open(dir, 1L)                        // v1 openStream
    EsLog.putKV(dir, "a", "1")                 // v2 kvPut
    // the source itself: a commit after the pin is not offered
    val src = new graft.sources.EsLogMetaWatchSource(spark, dir)
    src.prepareForTriggerAvailableNow()
    EsLog.putKV(dir, "b", "2")                 // v3, after the pin
    assert(src.latestOffset(null, ReadLimit.allAvailable()).json() == "2")
    // a query pins v3 at start; each batch commits a new version, which
    // an unpinned source would offer as the next batch, forever
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String)]()
    val q = spark.readStream.format("eslog").option("watch", "metadata").load(dir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => seen.add((r.getLong(0), r.getLong(1), r.getString(2))))
        EsLog.putKV(dir, "c", "3")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "the AvailableNow query must stop by itself")
    assert(seen.asScala.toSeq.sorted == Seq((0L, 0L, "createStream"), (1L, 0L, "openStream"),
      (2L, 0L, "kvPut"), (3L, 0L, "kvPut")))
    assert(graft.meta.MetaLog.latestVersion(dir) == 4L, "the in-batch commit landed, undelivered")
    // the registry watch pins the catalog log the same way
    val cat = new graft.eslog.EsCatalog(tmpDir("watch-now-cat-"))
    cat.createStream("alpha")
    val reg = new graft.sources.EsLogRegistryWatchSource(spark, cat.root)
    reg.prepareForTriggerAvailableNow()
    val pinned = reg.latestOffset(null, ReadLimit.allAvailable()).json()
    cat.createStream("beta")
    assert(reg.latestOffset(null, ReadLimit.allAvailable()).json() == pinned)
    assert(graft.meta.MetaLog.latestVersion(cat.root).toString != pinned)
  }

  test("streaming dropDuplicatesWithinWatermark over the eslog source") {
    val dir = tmpDir("wmdedup-")
    EsLog.create(dir, streamId = 9L)
    EsLog.open(dir, 1L)
    // 200 events, every value duplicated once within the same second; the
    // timestamp base is off epoch-0 so no event time equals the initial
    // watermark (which would classify the row as late)
    val in = spark.range(400).select(
      col("id"),
      (col("id") % 200).cast("string").cast("binary").as("payload"),
      (lit(1700000000000L) + (col("id") % 200) * 1000).as("base_timestamp"))
    EsLog.append(spark, dir, in, 1L, sortKey = Some("id"), numPartitions = 4)
    val q = spark.readStream.format("eslog").load(dir)
      .withColumn("ts", timestamp_millis(col("base_timestamp")))
      .withColumn("k", col("payload").cast("string"))
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("k")
      .select("k")
      .writeStream.format("memory").queryName("wm_dedup")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val keys = spark.table("wm_dedup").collect().map(_.getString(0))
    assert(keys.length == 200 && keys.toSet.size == 200)
  }

  test("source reports backlog metrics in streaming progress") {
    val dir = mkStream(1000)
    val ckpt = tmpDir("ckptm-")
    val q = spark.readStream.format("eslog")
      .option("maxOffsetsPerTrigger", "250")
      .load(dir)
      .writeStream.format("memory").queryName("metrics_drain")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val progress = q.recentProgress
    assert(progress.nonEmpty)
    val metrics = progress.map(_.sources.head.metrics)
    assert(metrics.forall(m => m.containsKey("backlogOffsets") && m.containsKey("latestOffset")),
      metrics.mkString(", "))
    // mid-drain batches trail the head; the final batch reports zero backlog
    assert(metrics.head.get("latestOffset") == "1000")
    assert(metrics.last.get("backlogOffsets") == "0", metrics.map(_.get("backlogOffsets")).mkString(","))
    assert(metrics.exists(_.get("backlogOffsets").toLong > 0))
  }

  test("first micro-batch straddles a mid-batch trim point (fetch semantics)") {
    val dir = tmpDir("straddle-src-")
    EsLog.create(dir, streamId = 11L)
    EsLog.open(dir, 1L)
    // batches of 3 offsets each: ids 0..99, batch i covers [3i, 3i+3)
    val in = spark.range(100).select(
      col("id"),
      col("id").cast("string").cast("binary").as("payload"),
      lit(3).as("last_offset_delta"))
    EsLog.append(spark, dir, in, 1L, sortKey = Some("id"), numPartitions = 2)
    EsLog.trim(dir, 100L) // mid-batch: batch 33 covers [99, 102)
    val ckpt = tmpDir("ckpts-")
    val q = spark.readStream.format("eslog").load(dir)
      .writeStream.format("memory").queryName("straddle_drain")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val offs = spark.table("straddle_drain").select("base_offset")
      .collect().map(_.getLong(0)).sorted
    // the straddling batch (base 99) must be delivered, like EsLog.fetch does
    val expected = EsLog.fetch(spark, dir).select("base_offset")
      .collect().map(_.getLong(0)).sorted
    assert(offs.head == 99L, offs.take(3).mkString(","))
    assert(offs.sameElements(expected))
  }

  test("sink without an explicit idempotence scope is rejected") {
    // the dangerous case: checkpoint set only via session conf, so the sink's
    // parameters carry no scope — two unnamed queries would share one marker
    val src = mkStream(10)
    val dst = tmpDir("sink-noscope-")
    spark.conf.set("spark.sql.streaming.checkpointLocation", tmpDir("ckpt-conf-"))
    try {
      val e = intercept[Exception] {
        val q = spark.readStream.format("eslog").load(src)
          .select("payload")
          .writeStream.format("eslog")
          .option("path", dst)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination(120000)
        q.exception.foreach(throw _)
      }
      def all(t: Throwable): Seq[Throwable] =
        Option(t).toSeq.flatMap(x => x +: all(x.getCause))
      assert(all(e).exists(_.getMessage != null) &&
        all(e).exists(t => Option(t.getMessage).exists(_.contains("idempotence scope"))),
        e.toString)
    } finally spark.conf.unset("spark.sql.streaming.checkpointLocation")
  }

  test("catalog scanAll unions registered streams with per-stream pruning") {
    val root = tmpDir("catscan-")
    val cat = new graft.eslog.EsCatalog(root)
    cat.createStream("s1"); cat.createStream("s2")
    Seq("s1" -> 10L, "s2" -> 20L).foreach { case (n, rows) =>
      EsLog.open(cat.streamDir(n), 1L)
      EsLog.append(spark, cat.streamDir(n),
        spark.range(rows).select(col("id"), col("id").cast("string").cast("binary").as("payload")),
        1L, numPartitions = 1)
    }
    val all = cat.scanAll(spark)
    assert(all.count() == 30)
    assert(all.groupBy("stream_id").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq == Seq((0L, 10L), (1L, 20L)))
  }

  test("catalog subscription: vector offset, live discovery, checkpoint recovery") {
    import org.apache.spark.sql.streaming.Trigger
    val root = tmpDir("catsub-")
    val cat = new graft.eslog.EsCatalog(root)
    def appendTo(name: String, from: Long, n: Long): Unit = {
      val dir = cat.streamDir(name)
      EsLog.open(dir, EsLog.describe(dir).epoch + 1)
      EsLog.append(spark, dir,
        spark.range(from, from + n).select(col("id"),
          concat(lit(name), lit(":"), col("id")).cast("binary").as("payload")),
        EsLog.describe(dir).epoch, numPartitions = 1)
    }
    cat.createStream("a"); appendTo("a", 0, 50)
    cat.createStream("b"); appendTo("b", 0, 40)
    // drain into an eslog SINK (memory sink refuses checkpoint recovery);
    // original (stream_id, base_offset) ride the properties map so the
    // vector-offset bookkeeping stays assertable after the hop
    val ckpt = tmpDir("catsub-ck-")
    val dst = tmpDir("catsub-dst-")
    def drain(): Seq[(Long, Long, String)] = {
      val q = spark.readStream.format("eslog")
        .option("scan", "catalog")
        .option("maxOffsetsPerTrigger", "16") // forces multi-batch vector advance
        .load(root)
        .select(col("payload"),
          map(lit("sid"), col("stream_id").cast("string"),
            lit("off"), col("base_offset").cast("string")).as("properties"),
          col("base_timestamp"), col("last_offset_delta"), col("flags"))
        .writeStream.format("eslog")
        .option("path", dst)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      q.exception.foreach(throw _)
      EsLog.scan(spark, dst)
        .select(col("properties")("sid").cast("long"),
          col("properties")("off").cast("long"), col("payload").cast("string"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    }
    val run1 = drain()
    assert(run1.size == 90)
    assert(run1.count(_._1 == 0L) == 50 && run1.count(_._1 == 1L) == 40)
    run1.foreach { case (sid, off, p) =>
      assert(p == (if (sid == 0L) s"a:$off" else s"b:$off"), s"($sid,$off,$p)")
    }
    // live discovery + recovery: a NEW stream and new appends, same checkpoint
    cat.createStream("c"); appendTo("c", 0, 25)
    appendTo("a", 50, 20)
    val run2 = drain()
    assert(run2.size == 135, s"delta appended once, got ${run2.size}") // +20 (a) +25 (c)
    assert(run2.filter(_._1 == 0L).map(_._2).sorted == (0L until 70L).toSeq,
      "stream a resumes exactly at its checkpointed offset")
    assert(run2.count(_._1 == 2L) == 25, "new stream c is discovered from offset 0")
    assert(run2.distinct.size == 135, "exactly-once across the two drains")
    // drop-and-recreate under the SAME name, with the fresh stream's head
    // already PAST the checkpointed position (45 > 40) — only stream-ID
    // identity in the vector offset can tell this fresh stream from "the
    // old one made progress"; a head-vs-position heuristic would deliver
    // rows [40,45) as a continuation and silently lose [0,40)
    cat.dropStream("b"); cat.createStream("b"); appendTo("b", 0, 45)
    val run3 = drain()
    assert(run3.size == 180, s"ALL recreated b's rows must arrive, got ${run3.size}")
    val bNew = run3.filter(t => t._3.startsWith("b:") && t._1 == 3L)
    assert(bNew.map(_._2).sorted == (0L until 45L).toSeq,
      s"recreated b delivers from offset 0 with its fresh id: ${bNew.take(5)}...")
    assert(run3.distinct.size == 180, "no duplicates after the rewind")
  }

  test("streaming decontamination flags exactly the batch bloom path's docs") {
    // The stream screens per micro-batch (stateless semi-joins against the
    // persisted sketch) and counts occurrences; the batch operator counts
    // distinct grams. Different counts, same verdict: a doc is flagged iff
    // ANY gram hits, so the DOC SETS must be identical — and every streamed
    // count must be >= its batch distinct-gram count.
    val sfDir = "/root/testdata/sf0.001"
    val streamed = spark.table(Fixtures.streamDecontaminateTable(spark, sfDir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = Fixtures.documents(spark, sfDir)
    val bench = graft.operators.Sampling.sampleByHash(docs, "doc_id", num = 1, den = 20)
    val batch = graft.operators.Dedup.decontaminateBloom(docs, bench, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed.keySet == batch.keySet,
      s"flagged doc sets diverge: stream-only ${streamed.keySet -- batch.keySet}, " +
        s"batch-only ${batch.keySet -- streamed.keySet}")
    streamed.foreach { case (doc, n) =>
      assert(n >= batch(doc), s"doc $doc: $n occurrence hits < ${batch(doc)} distinct-gram hits")
    }
  }

  test("streaming source + sink over file: URI stream dirs") {
    // both ends on URI dirs: the source's manifest reads + per-batch parquet
    // scans and the sink's append commits all resolve through the Hadoop
    // FileSystem / scheme-routed log
    val src = "file:" + mkStream(200)
    val dst = "file:" + tmpDir("sink-uri-")
    // pre-create via the plain-path spelling: both spellings address the
    // same stream on disk, and the URI spelling reads the same log back
    EsLog.create(dst.stripPrefix("file:"), streamId = 31L)
    assert(EsLog.describe(dst).streamId == 31L)
    val ckpt = tmpDir("ckpt-uri-")
    val q = spark.readStream.format("eslog")
      .option("maxOffsetsPerTrigger", "80")
      .load(src)
      .select("payload", "properties", "base_timestamp", "last_offset_delta", "flags")
      .writeStream.format("eslog")
      .option("path", dst)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(EsLog.nextOffset(dst) == 200L)
    assert(EsLog.scan(spark, dst).count() == 200)
  }

  test("streaming sink: exactly-once append, idempotent across restart") {
    val src = mkStream(300)
    val dst = tmpDir("sink-")
    val ckpt = tmpDir("ckpt2-")
    def run(): Unit = {
      val q = spark.readStream.format("eslog")
        .option("maxOffsetsPerTrigger", "100")
        .load(src)
        .select("payload", "properties", "base_timestamp", "last_offset_delta", "flags")
        .writeStream.format("eslog")
        .option("path", dst)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    run()
    assert(EsLog.nextOffset(dst) == 300L)
    val sum1 = EsLog.scan(spark, dst)
      .agg(sum(col("payload").cast("string").cast("long"))).collect().head.getLong(0)
    assert(sum1 == (0L until 300L).sum)
    // restart with the same checkpoint: nothing new, no duplicates
    run()
    assert(EsLog.nextOffset(dst) == 300L)
    // append more to the source; the restarted stream picks up only the delta
    EsLog.append(spark, src,
      spark.range(300, 400).select(col("id"), col("id").cast("string").cast("binary").as("payload"),
        (col("id") * 10).as("base_timestamp")),
      1L, sortKey = Some("id"))
    run()
    assert(EsLog.nextOffset(dst) == 400L)
    val sum2 = EsLog.scan(spark, dst)
      .agg(sum(col("payload").cast("string").cast("long"))).collect().head.getLong(0)
    assert(sum2 == (0L until 400L).sum)
    // a NEW query (fresh checkpoint) against the same sink stream restarts
    // batch ids at 0 — its batches must NOT be confused with the old query's
    // committed ids (it re-reads the source and appends everything again)
    val ckpt3 = tmpDir("ckpt3-")
    val q2 = spark.readStream.format("eslog").load(src)
      .select("payload", "properties", "base_timestamp", "last_offset_delta", "flags")
      .writeStream.format("eslog")
      .option("path", dst)
      .option("checkpointLocation", ckpt3)
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination(120000)
    assert(EsLog.nextOffset(dst) == 800L,
      s"fresh-checkpoint query lost batches: ${EsLog.nextOffset(dst)}")
  }
}
