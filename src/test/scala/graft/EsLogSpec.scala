package graft

import org.apache.spark.sql.functions._
import graft.eslog.EsLog
import graft.meta.FencedException

class EsLogSpec extends SparkTestBase {

  test("probe: events.parquet ns timestamp read mode") {
    val df = spark.read.parquet(sf("events"))
    info(s"events schema: ${df.schema.simpleString}")
    assert(df.count() == 1000)
  }

  test("e2e: append events as record batches, fetch back, offsets = event_id") {
    val dir = tmpDir("eslog-e2e-")
    EsLog.create(dir, streamId = 1L)
    EsLog.open(dir, epoch = 1L)
    val events = eventsDf
    val input = events.select(
      col("event_id"),
      to_json(struct(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("props"))).cast("binary").as("payload"),
      map(lit("event_type"), col("event_type")).as("properties"),
      (col("ts").cast("decimal(38,0)") / 1000000L).cast("long").as("base_timestamp"))
    val (first, next) = EsLog.append(spark, dir, input, epoch = 1L,
      sortKey = Some("event_id"), numPartitions = 4)
    assert(first == 0L && next == 1000L)
    assert(EsLog.nextOffset(dir) == 1000L)

    val back = EsLog.scan(spark, dir)
    assert(back.count() == 1000)
    // offset assignment must follow the sort key exactly
    val joined = back
      .select(col("base_offset"), get_json_object(col("payload").cast("string"), "$.event_id").cast("long").as("eid"))
      .where(col("base_offset") =!= col("eid"))
    assert(joined.count() == 0)
  }

  test("layout-aware compaction: clustered row groups prune a time window plain layout reads in full") {
    import graft.meta.MetaLog
    // same scrambled input appended to two streams: time order destroyed
    // relative to offset order ((id*48271)%n is a permutation)
    def build(cluster: Seq[org.apache.spark.sql.Column]): String = {
      val dir = tmpDir("eslog-zorder-")
      val ev = eventsDf
      val n = ev.count()
      val in = ev.select(
        ((col("event_id") * 48271L) % n).as("skey"),
        col("props").cast("binary").as("payload"),
        map(lit("event_type"), col("event_type")).as("properties"),
        expr("ts div 1000000").as("base_timestamp"))
      EsLog.create(dir); EsLog.open(dir, 1L)
      EsLog.append(spark, dir, in, 1L, sortKey = Some("skey"), numPartitions = 8)
      EsLog.seal(dir)
      EsLog.compact(spark, dir, targetBytes = Long.MaxValue,
        clusterBy = cluster, blockBytes = 4096L)
      dir
    }
    val plain = build(Nil)
    val clustered = build(Seq(col("base_timestamp")))

    // the rewrite changes LAYOUT only: same rows, same offsets
    val a = EsLog.scan(spark, plain)
      .select("base_offset", "base_timestamp").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = EsLog.scan(spark, clustered)
      .select("base_offset", "base_timestamp").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b && a.size == 1000)

    // per-row-group base_timestamp spans straight from the parquet footers
    def tsGroups(dir: String): Seq[(Long, Long)] = {
      val conf = spark.sparkContext.hadoopConfiguration
      MetaLog.load(dir).allFiles.map(_.path).flatMap { rel =>
        val p = new org.apache.hadoop.fs.Path(dir, rel)
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          import scala.jdk.CollectionConverters._
          reader.getFooter.getBlocks.asScala.toSeq.map { blk =>
            val c = blk.getColumns.asScala
              .find(_.getPath.toDotString == "base_timestamp").get
            val st = c.getStatistics
            (st.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
              st.genericGetMax.asInstanceOf[java.lang.Long].longValue())
          }
        } finally reader.close()
      }
    }
    val pg = tsGroups(plain)
    val cg = tsGroups(clustered)
    assert(pg.size >= 5, s"need several row groups for a skip test, got ${pg.size}")
    // probe: a 10%-of-span time window in the middle
    val lo = pg.map(_._1).min; val hi = pg.map(_._2).max
    val (wLo, wHi) = (lo + (hi - lo) * 2 / 5, lo + (hi - lo) / 2)
    def hits(gs: Seq[(Long, Long)]) = gs.count { case (mn, mx) => mx >= wLo && mn <= wHi }
    info(s"row groups: plain ${hits(pg)}/${pg.size} vs clustered ${hits(cg)}/${cg.size}")
    // scrambled layout: every group spans ~the whole range -> reads all;
    // clustered layout: only the groups owning the window
    assert(hits(pg) == pg.size, "scrambled groups should all intersect the window")
    assert(hits(cg) * 2 <= cg.size, s"clustered should skip most groups: ${hits(cg)}/${cg.size}")
  }

  test("append rolls output files toward targetFileBytes from skewed input partitioning") {
    // UP: one collapsed multi-MB partition must split instead of writing one
    // giant file from one task. Parquet source so Catalyst's size estimate
    // is the real byte count (the policy's documented operating regime).
    val src = tmpDir("roll-src-") + "/data"
    spark.range(4096)
      .select(col("id"), sha2(concat_ws("-", col("id"), lit("pad")), 512).as("fill"))
      .withColumn("payload", expr(
        "cast(concat(fill, fill, fill, fill, fill, fill, fill, fill) as binary)"))
      .drop("fill")
      .coalesce(1).write.parquet(src)
    val in = spark.read.parquet(src) // ~4 MB raw, 1 partition
    assert(in.rdd.getNumPartitions == 1)
    val dir = tmpDir("eslog-roll-up-")
    EsLog.create(dir); EsLog.open(dir, 1L)
    val target = 256L * 1024
    EsLog.append(spark, dir, in, 1L, targetFileBytes = target)
    val files = graft.meta.MetaLog.load(dir).allFiles
    // exact count tracks Catalyst's estimate of the normalized plan (not
    // pinned — it may legitimately drift across Spark versions); the rolled
    // PROPERTIES are what matter: the collapsed partition split, into evenly
    // sized files, each at most ~target on disk
    assert(files.size >= 2 && files.size <= 16,
      s"skewed single partition should split into a handful of files, got ${files.size}")
    assert(files.forall(_.bytes <= 2 * target),
      s"rolled file exceeds 2x target: ${files.map(_.bytes)}")
    val (minB, maxB) = (files.map(_.bytes).min, files.map(_.bytes).max)
    assert(maxB <= 2 * minB, s"rolled files unbalanced: min=$minB max=$maxB")
    // offsets stay contiguous and every row survives the reshuffle
    assert(files.sortBy(_.startOffset).sliding(2).forall {
      case Seq(a, b) => a.endOffset == b.startOffset; case _ => true })
    assert(EsLog.scan(spark, dir).count() == 4096)

    // DOWN: many near-empty partitions collapse (shuffle-free coalesce)
    // instead of landing one tiny file per input partition — but never
    // below the parallelism floor (max(2, cores/4)): ingest keeps encode
    // parallelism; compact() owns storage-optimal layout.
    val down = spark.read.parquet(src).repartition(24)
    val dir2 = tmpDir("eslog-roll-down-")
    EsLog.create(dir2); EsLog.open(dir2, 1L)
    EsLog.append(spark, dir2, down, 1L) // default 128 MiB target
    val files2 = graft.meta.MetaLog.load(dir2).allFiles
    // expectation mirrors the policy INCLUDING the 2x hysteresis: on hosts
    // where the floor exceeds cur/2 the input partitioning is (by design)
    // left alone, so derive the expected count rather than assuming
    val floor = math.min(24, math.max(2, spark.sparkContext.defaultParallelism / 4))
    val expected = if (floor * 2 <= 24) floor else 24
    assert(files2.size == expected,
      s"24 tiny partitions should coalesce to $expected (floor $floor), got ${files2.size}")
    assert(EsLog.scan(spark, dir2).count() == 4096)

    // explicit numPartitions still wins over the policy
    val dir3 = tmpDir("eslog-roll-pin-")
    EsLog.create(dir3); EsLog.open(dir3, 1L)
    EsLog.append(spark, dir3, down, 1L, numPartitions = 6)
    assert(graft.meta.MetaLog.load(dir3).allFiles.size == 6)

    // targetFileBytes = 0 disables the adjustment (input partitioning kept)
    val dir4 = tmpDir("eslog-roll-off-")
    EsLog.create(dir4); EsLog.open(dir4, 1L)
    EsLog.append(spark, dir4, down, 1L, targetFileBytes = 0L)
    assert(graft.meta.MetaLog.load(dir4).allFiles.size == 24)
  }

  test("trim/vacuum racing a pinned snapshot reader: full rows or clean failure, never partial") {
    // SURVEY §7 hard part (c), deterministically interleaved: a reader plans
    // a time-travel scan at version v, then trim advances past v's files and
    // physically vacuums them. The snapshot-read contract (Delta's VACUUM
    // contract, and the reference's range-delete semantics): the pinned read
    // either completes from still-live files or fails CLEANLY — a partial
    // result (rows silently missing) is the one forbidden outcome.
    def hasFnf(t: Throwable): Boolean =
      Option(t).exists(x => x.isInstanceOf[java.io.FileNotFoundException] ||
        Option(x.getMessage).exists(_.toLowerCase.contains("does not exist")) ||
        hasFnf(x.getCause))

    // trim points: inside file 0 (straddler kept), at a file boundary
    // (prefix files vacuumed), past several files
    for (trimAt <- Seq(100L, 250L, 610L)) {
      val dir = tmpDir(s"eslog-race-$trimAt-")
      EsLog.create(dir); EsLog.open(dir, 1L)
      val in = spark.range(1000).select(
        col("id"), col("id").cast("string").cast("binary").as("payload"))
      EsLog.append(spark, dir, in, 1L, sortKey = Some("id"), numPartitions = 4)
      val v = graft.meta.MetaLog.load(dir).version
      val files0 = graft.meta.MetaLog.load(dir).allFiles
      assert(files0.size == 4) // 250 rows per file

      // NOTE: a bare count(*) would be answered from the MANIFEST
      // (EsLogMetadataOnlyCount) — correct by definition even after vacuum
      // (the commit-time footer audit pinned manifest == data), but useless
      // as a does-the-data-still-read probe. count(payload) forces the scan.
      def dataCount(df: org.apache.spark.sql.DataFrame): Long =
        df.agg(count(col("payload"))).collect().head.getLong(0)

      // t1: reader plans (manifest snapshot at v resolved NOW)
      val pinned = EsLog.scanAt(spark, dir, v)
      // t2: executing before the trim lands sees every row
      assert(dataCount(pinned) == 1000)

      // t3: trim advances — METADATA ONLY (reclamation rides vacuum's grace
      // sweep, like compaction's replaced files), so a trim alone can NEVER
      // break the pinned reader: the re-execute must see all 1000
      EsLog.trim(dir, trimAt)
      assert(dataCount(EsLog.scanAt(spark, dir, v)) == 1000,
        s"trimAt=$trimAt: metadata-only trim broke a pinned snapshot")

      // t3b: vacuum past the grace period physically reclaims the files the
      // manifest no longer references
      EsLog.vacuum(dir, nowMs = System.currentTimeMillis() + 25L * 3600 * 1000)
      val gone = files0.count(_.endOffset <= trimAt)

      // the snapshot's metadata-only count STILL answers (and answers
      // right) after its files are gone — the manifest is the source of
      // truth for cardinality, the same contract Delta's metadata count has
      assert(EsLog.scanAt(spark, dir, v).count() == 1000L)

      // t4: the SAME pinned plan re-executes a DATA read — all 1000 or a
      // clean failure
      val outcome = scala.util.Try(dataCount(EsLog.scanAt(spark, dir, v)))
      outcome match {
        case scala.util.Success(n) =>
          assert(n == 1000L,
            s"trimAt=$trimAt: pinned snapshot silently LOST rows: $n of 1000")
          assert(gone == 0,
            s"trimAt=$trimAt: $gone files vacuumed yet snapshot still read 1000 — stale FS?")
        case scala.util.Failure(e) =>
          assert(hasFnf(e), s"trimAt=$trimAt: failure must be the missing-file kind: $e")
          assert(gone > 0, s"trimAt=$trimAt: clean failure but nothing was vacuumed: $e")
      }

      // t5: the LIVE (post-trim) scan remains exact under straddle semantics:
      // batches whose span ends at or before trimAt are gone, the rest stay
      val live = EsLog.scan(spark, dir)
      assert(live.count() == 1000 - trimAt)
      assert(live.agg(min(col("base_offset") + col("last_offset_delta")))
        .collect().head.getLong(0) > trimAt)
    }
  }

  test("fetch range pruning + straddle semantics; trim; reopen fencing") {
    val dir = tmpDir("eslog-rng-")
    EsLog.create(dir, streamId = 2L)
    EsLog.open(dir, 1L)
    val n = 100
    val input = spark.range(n).select(
      col("id"), col("id").cast("string").cast("binary").as("payload"))
    EsLog.append(spark, dir, input, 1L, sortKey = Some("id"), numPartitions = 4)

    val part = EsLog.fetch(spark, dir, 10, 20)
    val offs = part.select("base_offset").collect().map(_.getLong(0)).sorted
    assert(offs.sameElements(10L until 20L))

    // trim to 30: offsets below vanish
    EsLog.trim(dir, 30L)
    val after = EsLog.scan(spark, dir)
    assert(after.agg(min("base_offset")).collect().head.getLong(0) == 30L)
    assert(EsLog.startOffset(dir) == 30L)
    assert(EsLog.nextOffset(dir) == 100L)

    // fetch below trim returns nothing below start
    assert(EsLog.fetch(spark, dir, 0, 35).agg(min("base_offset")).collect().head.getLong(0) == 30L)

    // reopen with higher epoch seals; stale writer fenced
    EsLog.open(dir, 2L)
    assertThrows[FencedException] {
      EsLog.append(spark, dir, input, 1L)
    }
    // new epoch continues contiguously in a new segment
    val (f2, n2) = EsLog.append(spark, dir, input.limit(5), 2L, sortKey = Some("id"))
    assert(f2 == 100L && n2 == 105L)
    val segs = EsLog.listSegments(spark, dir).collect()
    assert(segs.length == 2)
  }

  test("multi-record batches keep offset arithmetic (last_offset_delta > 1)") {
    val dir = tmpDir("eslog-delta-")
    EsLog.create(dir); EsLog.open(dir, 1L)
    val input = spark.range(10).select(
      col("id"),
      lit("x").cast("binary").as("payload"),
      (col("id") % 3 + 1).cast("int").as("last_offset_delta"))
    val (_, next) = EsLog.append(spark, dir, input, 1L, sortKey = Some("id"))
    // deltas: ids 0..9 -> 1,2,3,1,2,3,1,2,3,1 = 19
    assert(next == 19L)
    val back = EsLog.scan(spark, dir)
    assert(back.agg(sum("last_offset_delta")).collect().head.getLong(0) == 19L)
    // fetch straddling a multi-offset batch returns it whole
    val straddle = EsLog.fetch(spark, dir, 1, 2).collect()
    assert(straddle.length == 1 && straddle.head.getAs[Long]("base_offset") == 1L)
  }

  test("fetch lower bound is Parquet-pushable (single-column, no arithmetic)") {
    val dir = tmpDir("eslog-push-")
    EsLog.create(dir); EsLog.open(dir, 1L)
    val input = spark.range(100).select(
      col("id"), col("id").cast("string").cast("binary").as("payload"))
    EsLog.append(spark, dir, input, 1L, sortKey = Some("id"), numPartitions = 4)
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val plan = EsLog.fetch(spark, dir, 40, 60).queryExecution.executedPlan.toString
    // The rewritten bound base_offset > lo - maxDelta must reach PushedFilters
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("GreaterThan(base_offset,39)"), plan)
    assert(plan.contains("LessThan(base_offset,60)"), plan)
  }

  test("kv public api: put/get/del/range/txn CAS") {
    val dir = tmpDir("eslog-kv-")
    EsLog.create(dir)
    EsLog.putKV(dir, "a/1", "x"); EsLog.putKV(dir, "a/2", "y"); EsLog.putKV(dir, "b/1", "z")
    assert(EsLog.getKV(dir, "a/2").contains("y"))
    assert(EsLog.rangeKV(dir, "a/", Some("a0")).map(_._1) == Seq("a/1", "a/2"))
    EsLog.delKV(dir, "a/1")
    assert(EsLog.getKV(dir, "a/1").isEmpty)
    // unbounded scan covers keys above the BMP sentinel range
    EsLog.putKV(dir, "￿-high", "h")
    assert(EsLog.rangeKV(dir).map(_._1).contains("￿-high"))
    // DELETE_RANGE: one atomic commit removes [a/, b) and nothing else
    val vBefore = graft.meta.MetaLog.latestVersion(dir)
    EsLog.delRangeKV(dir, "a/", Some("b"))
    assert(graft.meta.MetaLog.latestVersion(dir) == vBefore + 1)
    assert(EsLog.getKV(dir, "a/2").isEmpty)
    assert(EsLog.getKV(dir, "b/1").nonEmpty)
    // empty range -> no commit at all
    EsLog.delRangeKV(dir, "m", Some("m0"))
    assert(graft.meta.MetaLog.latestVersion(dir) == vBefore + 1)
    // CAS txn: succeeds against the expected value, then fails on stale expect
    assert(EsLog.txnKV(dir, "b/1", Some("z"), Seq("b/1" -> Some("z2"), "c" -> Some("new"))))
    assert(EsLog.getKV(dir, "b/1").contains("z2") && EsLog.getKV(dir, "c").contains("new"))
    assert(!EsLog.txnKV(dir, "b/1", Some("z"), Seq("b/1" -> Some("z3"))))
    assert(EsLog.getKV(dir, "b/1").contains("z2"))
    // compare-on-absent
    assert(!EsLog.txnKV(dir, "c", None, Seq("d" -> Some("1"))))
    assert(EsLog.txnKV(dir, "nope", None, Seq("d" -> Some("1"))))
  }

  test("kv delRangeKV is one ranged tombstone action, atomic over the range") {
    val dir = tmpDir("eslog-kvrange-")
    EsLog.create(dir)
    (0 until 50).foreach(i => EsLog.putKV(dir, f"r/$i%03d", i.toString))
    EsLog.putKV(dir, "s/keep", "k")
    val vBefore = graft.meta.MetaLog.latestVersion(dir)
    EsLog.delRangeKV(dir, "r/", Some("s"))
    // one commit, whose single action is the ranged tombstone
    assert(graft.meta.MetaLog.latestVersion(dir) == vBefore + 1)
    val actions = graft.meta.MetaLog.actionsSince(dir, vBefore).flatMap(_._2)
    assert(actions == Seq(graft.meta.KvDelRange("r/", Some("s"))), actions)
    assert(EsLog.rangeKV(dir).map(_._1) == Seq("s/keep"))
    // unbounded tombstone deletes to end of keyspace
    EsLog.delRangeKV(dir, "s", None)
    assert(EsLog.rangeKV(dir).isEmpty)
  }

  test("kv txn: multi-guard compares with success and failure branches") {
    import graft.meta.{KvValueIs, KvPresent, KvAbsent}
    val dir = tmpDir("eslog-kvtxn-")
    EsLog.create(dir)
    EsLog.putKV(dir, "a", "1"); EsLog.putKV(dir, "b", "2")
    // all guards hold -> success ops land atomically
    assert(EsLog.txnKV(dir,
      Seq(KvValueIs("a", "1"), KvPresent("b"), KvAbsent("c")),
      onSuccess = Seq("c" -> Some("3"), "b" -> None),
      onFailure = Seq("fail" -> Some("x"))))
    assert(EsLog.getKV(dir, "c").contains("3") && EsLog.getKV(dir, "b").isEmpty)
    assert(EsLog.getKV(dir, "fail").isEmpty)
    // one failing guard -> failure branch lands, success ops don't
    assert(!EsLog.txnKV(dir,
      Seq(KvValueIs("a", "1"), KvPresent("b")),
      onSuccess = Seq("never" -> Some("y")),
      onFailure = Seq("fail" -> Some("x"), "c" -> None)))
    assert(EsLog.getKV(dir, "never").isEmpty)
    assert(EsLog.getKV(dir, "fail").contains("x") && EsLog.getKV(dir, "c").isEmpty)
    // empty chosen branch commits nothing but still reports the verdict
    val v = graft.meta.MetaLog.latestVersion(dir)
    assert(!EsLog.txnKV(dir, Seq(KvAbsent("a")),
      onSuccess = Seq("never" -> Some("y")), onFailure = Seq.empty))
    assert(graft.meta.MetaLog.latestVersion(dir) == v)
  }

  test("time travel: scanAt reads the snapshot at a log version") {
    val dir = tmpDir("eslog-tt-")
    EsLog.create(dir)
    EsLog.open(dir, 1L)
    def batch(from: Long, n: Long) = spark.range(from, from + n).select(
      col("id"), col("id").cast("string").cast("binary").as("payload"))
    EsLog.append(spark, dir, batch(0, 100), 1L, numPartitions = 1)
    val v1 = graft.meta.MetaLog.latestVersion(dir)
    EsLog.append(spark, dir, batch(100, 100), 1L, numPartitions = 1)
    EsLog.putKV(dir, "marker", "post-append")
    // live scan sees both commits; the snapshot sees only the first
    assert(EsLog.scan(spark, dir).count() == 200)
    assert(EsLog.scanAt(spark, dir, v1).count() == 100)
    assert(EsLog.scanAt(spark, dir, v1)
      .agg(max("base_offset")).collect().head.getLong(0) == 99L)
    // the kv put got a new version but data is unchanged at it
    assert(EsLog.scanAt(spark, dir, graft.meta.MetaLog.latestVersion(dir)).count() == 200)
    // connector option
    assert(spark.read.format("eslog").option("asOfVersion", v1.toString)
      .load(dir).count() == 100)
    // time travel works past checkpoint retention (deltas fold from 0)
    (0 until 25).foreach(i => EsLog.putKV(dir, s"pad$i", "x"))
    assert(EsLog.scanAt(spark, dir, v1).count() == 100)
  }

  test("scanDelta: offset-delimited version increments, invariant under compaction") {
    import spark.implicits._
    val dir = tmpDir("eslog-delta-")
    EsLog.create(dir)
    EsLog.open(dir, 1L)
    def batch(from: Long, n: Long) = spark.range(from, from + n).select(
      col("id"), col("id").cast("string").cast("binary").as("payload"))
    EsLog.append(spark, dir, batch(0, 100), 1L, numPartitions = 1)
    val v1 = graft.meta.MetaLog.latestVersion(dir)
    EsLog.append(spark, dir, batch(100, 50), 1L, numPartitions = 1)
    val v2 = graft.meta.MetaLog.latestVersion(dir)
    EsLog.append(spark, dir, batch(150, 25), 1L, numPartitions = 1)
    val v3 = graft.meta.MetaLog.latestVersion(dir)
    // each increment delivers exactly the rows its commits appended
    def offs(df: org.apache.spark.sql.DataFrame) =
      df.select("base_offset").as[Long].collect().sorted.toSeq
    assert(offs(EsLog.scanDelta(spark, dir, v1, v2)) == (100L until 150L))
    assert(offs(EsLog.scanDelta(spark, dir, v2, v3)) == (150L until 175L))
    assert(offs(EsLog.scanDelta(spark, dir, v1, v3)) == (100L until 175L))
    // empty increment, and the full history from version 0
    assert(EsLog.scanDelta(spark, dir, v3, v3).count() == 0)
    assert(EsLog.scanDelta(spark, dir, 0L, v3).count() == 175)
    // a compaction-era increment re-delivers NOTHING: the rewrite commits a
    // new version but moves no offsets (the file-diff formulation would
    // re-deliver every rewritten row here)
    EsLog.open(dir, 2L) // seal so the segment is compactable
    EsLog.compact(spark, dir)
    val v4 = graft.meta.MetaLog.latestVersion(dir)
    assert(v4 > v3)
    assert(EsLog.scanDelta(spark, dir, v3, v4).count() == 0)
    // and an increment READ ACROSS the compaction still yields the same rows
    assert(offs(EsLog.scanDelta(spark, dir, v1, v4)) == (100L until 175L))
  }

  test("fetch maxBytesHint truncates at file granularity, always admits one file") {
    val dir = tmpDir("eslog-hint-")
    EsLog.create(dir)
    EsLog.open(dir, 1L)
    val in = spark.range(1000).select(
      col("id"), col("id").cast("string").cast("binary").as("payload"))
    EsLog.append(spark, dir, in, 1L, sortKey = Some("id"), numPartitions = 4)
    val files = graft.meta.MetaLog.load(dir).allFiles.sortBy(_.startOffset)
    assert(files.size == 4)
    // budget for exactly the first two files -> offsets [0, files(1).end)
    val two = files(0).bytes + files(1).bytes
    val got = EsLog.fetch(spark, dir, 0, Long.MaxValue, maxBytesHint = two)
      .agg(max("base_offset")).collect().head.getLong(0)
    assert(got == files(1).endOffset - 1, s"$got vs ${files(1).endOffset - 1}")
    // a hint smaller than any single file still admits the first file
    val tiny = EsLog.fetch(spark, dir, 0, Long.MaxValue, maxBytesHint = 1L)
      .agg(count(lit(1)), max("base_offset")).collect().head
    assert(tiny.getLong(0) > 0 && tiny.getLong(1) == files(0).endOffset - 1)
    // no hint: everything
    assert(EsLog.fetch(spark, dir).count() == 1000)
  }

  private def concurrentAppendStress(dir: String): Unit = {
    EsLog.create(dir)
    EsLog.open(dir, 1L)
    val in = spark.range(200).select(
      col("id"), col("id").cast("string").cast("binary").as("payload"))
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    // four writers race the same epoch; each retries until its commit lands
    val writers = (0 until 4).map { _ => Future {
      var done = false
      var attempts = 0
      while (!done && attempts < 20) {
        attempts += 1
        try { EsLog.append(spark, dir, in, 1L, numPartitions = 2); done = true }
        catch { case _: graft.meta.ConcurrentCommitException => () }
      }
      done
    }}
    assert(Await.result(Future.sequence(writers), 5.minutes).forall(identity))
    // all four commits landed exactly once, contiguous, with correct content
    assert(EsLog.nextOffset(dir) == 800L)
    val st = graft.meta.MetaLog.load(dir)
    val spans = st.allFiles.sortBy(_.startOffset)
    assert(spans.head.startOffset == 0L && spans.last.endOffset == 800L)
    spans.sliding(2).foreach {
      case Seq(a, b) => assert(a.endOffset == b.startOffset)
      case _ => ()
    }
    val agg = EsLog.scan(spark, dir)
      .agg(count(lit(1)), sum(col("payload").cast("string").cast("long"))).collect().head
    assert(agg.getLong(0) == 800L && agg.getLong(1) == 4 * (0L until 200L).sum)
    // losers' cleanup left nothing unreferenced for vacuum to find
    assert(EsLog.vacuum(dir, System.currentTimeMillis() + 25L * 3600 * 1000)
      .forall(p => p.endsWith(".crc") || p.endsWith("_SUCCESS")),
      "orphan data files leaked by losing writers")
  }

  test("concurrent appends: CAS keeps offsets contiguous, losers leave no files") {
    concurrentAppendStress(tmpDir("eslog-conc-"))
  }

  test("concurrent appends against an object-store-routed log: same guarantees") {
    // full append path (parquet data files on FS, every log read + CAS
    // commit through ObjectLogStore) under writer contention
    val dir = tmpDir("eslog-conc-obj-")
    graft.meta.MetaLog.route(dir, new graft.meta.ObjectLogStore(new graft.meta.InMemoryObjectStore))
    try concurrentAppendStress(dir)
    finally graft.meta.MetaLog.unroute(dir)
  }

  test("vacuum sweeps unreferenced staging files, honors the grace period") {
    val dir = tmpDir("eslog-vac-")
    EsLog.create(dir)
    EsLog.open(dir, 1L)
    EsLog.append(spark, dir,
      spark.range(50).select(col("id"), col("id").cast("string").cast("binary").as("payload")),
      1L, numPartitions = 2)
    // simulate a crashed writer: a staging dir with part files the manifest
    // never saw
    val orphanDir = java.nio.file.Paths.get(dir, "seg-00000", "deadbeef")
    java.nio.file.Files.createDirectories(orphanDir)
    val orphan = orphanDir.resolve("part-00000-crashed.parquet")
    java.nio.file.Files.write(orphan, Array[Byte](1, 2, 3))
    val orphanCrc = orphanDir.resolve(".part-00000-crashed.parquet.crc")
    java.nio.file.Files.write(orphanCrc, Array[Byte](9))
    val nRows = EsLog.scan(spark, dir).count()
    val liveCrcs = {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try w.iterator().asScala.filter(_.getFileName.toString.startsWith(".part")).toSet
      finally w.close()
    }

    // inside the grace period: nothing is swept
    assert(EsLog.vacuum(dir, nowMs = System.currentTimeMillis()).isEmpty)
    assert(java.nio.file.Files.exists(orphan))
    // past the grace period: the orphan goes (its crc sidecar is deleted
    // implicitly by the checksummed FileSystem — reported names are the
    // listed data files only); live part files AND their crc sidecars stay
    val deleted = EsLog.vacuum(dir, nowMs = System.currentTimeMillis() + 25L * 3600 * 1000)
    assert(deleted.toSet == Set("seg-00000/deadbeef/part-00000-crashed.parquet"), deleted)
    assert(!java.nio.file.Files.exists(orphan) && !java.nio.file.Files.exists(orphanCrc))
    assert(!java.nio.file.Files.exists(orphanDir))
    assert((liveCrcs - orphanCrc).forall(java.nio.file.Files.exists(_)))
    assert(EsLog.scan(spark, dir).count() == nRows)
    // metadata log untouched
    assert(graft.meta.MetaLog.load(dir).allFiles.nonEmpty)
  }

  test("vacuum keeps a fresh empty staging dir (concurrent append in flight)") {
    val dir = tmpDir("eslog-vacdir-")
    EsLog.create(dir)
    // a concurrent append has just created its staging dir but written nothing
    val staging = java.nio.file.Paths.get(dir, "seg-00000", "inflight1")
    java.nio.file.Files.createDirectories(staging)
    assert(EsLog.vacuum(dir, nowMs = System.currentTimeMillis()).isEmpty)
    assert(java.nio.file.Files.isDirectory(staging),
      "fresh empty staging dir swept — would fail the in-flight append")
    // past the grace period it is garbage and goes
    EsLog.vacuum(dir, nowMs = System.currentTimeMillis() + 25L * 3600 * 1000)
    assert(!java.nio.file.Files.exists(staging))
  }

  test("retention: time-based trim drops expired files (metadata-only)") {
    val dir = tmpDir("eslog-ret-")
    EsLog.create(dir, retentionMs = 1000L)
    EsLog.open(dir, 1L)
    // two appends with distinct timestamp ranges -> two files/commits
    def batch(tsBase: Long, ids: Range) = spark.createDataFrame(
      ids.map(i => (i.toLong, Array[Byte](i.toByte), tsBase + i))
    ).toDF("id", "payload", "base_timestamp")
    EsLog.append(spark, dir, batch(1000L, 0 until 10), 1L, sortKey = Some("id"), numPartitions = 1)
    EsLog.append(spark, dir, batch(100000L, 0 until 10), 1L, sortKey = Some("id"), numPartitions = 1)
    // cutoff = 50010 sits between file1's maxTs (1009) and file2's (100009):
    // only the first file is beyond retention
    val st = EsLog.enforceRetention(dir, nowMs = 51010L)
    assert(st.startOffset == 10L)
    assert(EsLog.scan(spark, dir).count() == 10)
    // idempotent: nothing more to drop at the same cutoff
    assert(EsLog.enforceRetention(dir, nowMs = 51010L).startOffset == 10L)
    // out-of-order event time: a LATER file with expired timestamps must not
    // drag the trim point past fresh data (only the contiguous expired
    // prefix is dropped — Kafka retention semantics)
    EsLog.append(spark, dir, batch(500L, 0 until 10), 1L, sortKey = Some("id"), numPartitions = 1)
    val st2 = EsLog.enforceRetention(dir, nowMs = 51010L)
    assert(st2.startOffset == 10L, s"trimmed past unexpired data: ${st2.startOffset}")
    assert(EsLog.scan(spark, dir).count() == 20)
    // no retention configured -> no-op
    val dir2 = tmpDir("eslog-ret2-")
    EsLog.create(dir2); EsLog.open(dir2, 1L)
    EsLog.append(spark, dir2, batch(0L, 0 until 5), 1L, numPartitions = 1)
    assert(EsLog.enforceRetention(dir2, nowMs = Long.MaxValue / 2).startOffset == 0L)
  }

  test("ingestRaw/exportRaw: wire codec roundtrip through a stream") {
    import spark.implicits._
    val dir = tmpDir("eslog-raw-")
    EsLog.create(dir); EsLog.open(dir, 1L)
    val rows = (0 until 50).map(i => graft.model.RecordBatchRow(
      0L, 0, 0.toShort, i.toLong, 1, 1000L + i, Map("k" -> s"v$i"), s"payload-$i".getBytes))
    // frames of 5 entries each, as an APPEND-frame payload would arrive
    val frames = rows.grouped(5).map(g => Tuple1(graft.model.FlatRecordBatch.encodeAll(g))).toSeq
    val framesDf = frames.toDF("frame")
    val (first, next) = EsLog.ingestRaw(spark, dir, framesDf, 1L)
    assert(first == 0L && next == 50L)
    val back = EsLog.scan(spark, dir)
    assert(back.count() == 50)
    assert(back.where(col("payload").cast("string").startsWith("payload-")).count() == 50)
    // export re-frames every batch; re-decoding yields the same payload set
    val exported = EsLog.exportRaw(spark, dir).collect()
    assert(exported.length == 50)
    val decoded = exported.map(r => graft.model.FlatRecordBatch.decode(r.getAs[Array[Byte]]("frame")))
    assert(decoded.map(d => new String(d.payload)).toSet == rows.map(r => new String(r.payload)).toSet)
  }

  test("compaction: sealed segment files merge, scan identical, originals deferred to vacuum") {
    val dir = tmpDir("eslog-compact-")
    EsLog.create(dir); EsLog.open(dir, 1L)
    val input = spark.range(1000).select(
      col("id"), col("id").cast("string").cast("binary").as("payload"),
      (col("id") % 3 + 1).cast("int").as("last_offset_delta"))
    EsLog.append(spark, dir, input, 1L, sortKey = Some("id"), numPartitions = 8)
    EsLog.seal(dir)
    val before = graft.meta.MetaLog.load(dir)
    assert(before.allFiles.size == 8)
    val hashBefore = EsLog.scan(spark, dir)
      .agg(expr("bit_xor(xxhash64(base_offset, last_offset_delta, payload))"))
      .collect().head.getLong(0)
    val oldPaths = before.allFiles.map(_.path)

    EsLog.compact(spark, dir, targetBytes = Long.MaxValue) // everything -> 1 file
    val after = graft.meta.MetaLog.load(dir)
    assert(after.allFiles.size == 1, after.allFiles.map(_.path))
    assert(after.nextOffset == before.nextOffset && after.startOffset == before.startOffset)
    assert(after.allFiles.head.rows == 1000)
    val hashAfter = EsLog.scan(spark, dir)
      .agg(expr("bit_xor(xxhash64(base_offset, last_offset_delta, payload))"))
      .collect().head.getLong(0)
    assert(hashBefore == hashAfter)
    // replaced files stay for pinned readers (grace-deferred reclamation)...
    oldPaths.foreach(p => assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, p)),
      s"replaced file $p should await vacuum, not die at swap"))
    // ...and vacuum sweeps exactly them once the grace horizon passes
    val swept = EsLog.vacuum(dir, nowMs = System.currentTimeMillis() + 1, graceMs = 0L)
    assert(oldPaths.forall(p => swept.exists(_.endsWith(p))), s"vacuum swept $swept")
    oldPaths.foreach(p => assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, p))))
    assert(EsLog.fetch(spark, dir, 100, 120).count() > 0)
    // idempotent: single-file segment is left alone
    EsLog.compact(spark, dir, targetBytes = Long.MaxValue)
    assert(graft.meta.MetaLog.load(dir).allFiles.size == 1)
  }

  test("replaceFiles invariants: span mismatch and open segment rejected") {
    import graft.meta._
    val dir = tmpDir("eslog-repl-")
    var st = EsLogTestOps.createAndOpen(dir)
    def fm(s: Long, e: Long, p: String) = FileMeta(p, e - s, 10, s, e, 0, 0)
    st = MetaLog.commit(dir, st, Seq(OpenSegment(0, 0L, 1L),
      CommitFiles(0, 1L, Seq(fm(0, 10, "a"), fm(10, 20, "b")))))
    // open segment: rejected
    assertThrows[IllegalArgumentException](
      StreamState.apply(st, ReplaceFiles(0, Seq("a", "b"), Seq(fm(0, 20, "c"))), 99))
    st = MetaLog.commit(dir, st, Seq(SealSegment(0, 20L, 1L)))
    // wrong span
    assertThrows[IllegalArgumentException](
      StreamState.apply(st, ReplaceFiles(0, Seq("a", "b"), Seq(fm(0, 19, "c"))), 99))
    // gap inside replacement
    assertThrows[IllegalArgumentException](
      StreamState.apply(st, ReplaceFiles(0, Seq("a", "b"), Seq(fm(0, 9, "c"), fm(10, 20, "d"))), 99))
    // valid swap
    val ok = StreamState.apply(st, ReplaceFiles(0, Seq("a", "b"), Seq(fm(0, 20, "c"))), 99)
    assert(ok.allFiles.map(_.path) == Seq("c") && ok.nextOffset == 20)
  }

  test("catalog: allocateId CAS, create/list/drop streams") {
    val root = tmpDir("eslog-cat-")
    val cat = new graft.eslog.EsCatalog(root)
    assert(cat.allocateId() == 0L && cat.allocateId() == 1L)
    val idA = cat.createStream("alpha")
    val idB = cat.createStream("beta", replica = 3, retentionMs = 1000L)
    assert(idA == 2L && idB == 3L)
    assertThrows[IllegalArgumentException](cat.createStream("alpha"))
    EsLog.open(cat.streamDir("alpha"), 1L)
    EsLog.append(spark, cat.streamDir("alpha"),
      spark.range(5).select(col("id"), col("id").cast("string").cast("binary").as("payload")),
      1L, numPartitions = 1)
    val listed = cat.listStreams(spark).collect().map(r => (r.getString(0), r.getLong(1), r.getLong(4)))
    assert(listed.toSeq == Seq(("alpha", 2L, 5L), ("beta", 3L, 0L)))
    cat.dropStream("beta")
    assert(cat.listStreams(spark).count() == 1)
    assert(cat.getStream("beta").isEmpty)
  }

  test("catalog: registry watch events; name reuse after drop gets a fresh id") {
    val root = tmpDir("eslog-catwatch-")
    val cat = new graft.eslog.EsCatalog(root)
    val a = cat.createStream("alpha")
    val b = cat.createStream("beta")
    cat.dropStream("beta")
    val b2 = cat.createStream("beta") // tombstoned dir purged, fresh id
    assert(a == 0L && b == 1L && b2 == 2L)
    assert(cat.getStream("beta").contains(2L))
    // the recreated stream is actually writable
    EsLog.open(cat.streamDir("beta"), 1L)
    EsLog.append(spark, cat.streamDir("beta"),
      spark.range(3).select(col("id"), col("id").cast("string").cast("binary").as("payload")),
      1L, numPartitions = 1)
    assert(EsLog.scan(spark, cat.streamDir("beta")).count() == 3)
    // batch event history: put/del/put, ids distinct, revisions increasing
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).sortBy(t => (t._1, t._2)).toSeq
    val hist = rows(cat.registryHistory(spark))
    assert(hist.map(t => (t._3, t._4, t._5)) ==
      Seq(("put", "alpha", 0L), ("put", "beta", 1L), ("del", "beta", -1L),
        ("put", "beta", 2L)))
    assert(hist.map(_._1) == hist.map(_._1).sorted && hist.map(_._1).distinct == hist.map(_._1))
    // streaming twin: a from-scratch watch equals the batch history
    val q = cat.watchRegistry(spark).writeStream.format("memory")
      .queryName("catwatch_unit").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(rows(spark.table("catwatch_unit")) == hist)
  }

  test("commit audit: footer stats disagreeing with the manifest abort the commit") {
    import org.apache.spark.sql.types.{IntegerType, ShortType}
    import org.apache.spark.sql.graftshim.{GraftShims, PartFileWriter}
    import graft.eslog.CommitTasks
    val dir = tmpDir("eslog-audit-")
    // one part file written by the commit writer, base_offset 0..99, deltas of 1
    val outRel = "seg-00000/audit"
    val outAbs = java.nio.file.Paths.get(dir, outRel).toString
    val rows = GraftShims.internalRdd(spark.range(100).select(
      lit(7L).as("stream_id"), lit(0).cast(IntegerType).as("range_index"),
      lit(0).cast(ShortType).as("flags"), col("id").as("base_offset"),
      lit(1).cast(IntegerType).as("last_offset_delta"), lit(5L).as("base_timestamp"),
      map().cast("map<string,string>").as("properties"),
      col("id").cast("string").cast("binary").as("payload"))
      .coalesce(1).sortWithinPartitions("base_offset"))
    val parts = PartFileWriter.write(spark, rows, graft.model.RecordBatchRow.schema, outAbs,
      CommitTasks.BlockBytes, "base_offset")
    assert(parts.map(p => (p.pid, p.rows, p.minKey, p.maxKey)) == Seq((0, 100L, Some(0L), Some(99L))))

    // agreeing stats: metas built, sizes from the task's footer read
    val ok = CommitTasks.auditedMetas(outRel, Seq((0, 100L, 0L, 100L, 5L, 5L, 1)), parts)
    assert(ok.size == 1 && ok.head.rows == 100 && ok.head.bytes > 0)
    assert(ok.head.bytes == java.nio.file.Files.size(java.nio.file.Paths.get(dir, ok.head.path)))
    assert(ok.head.startOffset == 0L && ok.head.endOffset == 100L)

    // row-count drift: stats say 99 rows, file holds 100
    val e1 = intercept[IllegalStateException](
      CommitTasks.auditedMetas(outRel, Seq((0, 99L, 0L, 99L, 5L, 5L, 1)), parts))
    assert(e1.getMessage.contains("row count"), e1.getMessage)

    // offset drift with a STABLE row count (the silent-corruption case the
    // column-statistics cross-check exists for): stats claim [1, 101)
    val e2 = intercept[IllegalStateException](
      CommitTasks.auditedMetas(outRel, Seq((0, 100L, 1L, 101L, 5L, 5L, 1)), parts))
    assert(e2.getMessage.contains("base_offset"), e2.getMessage)

    // the writer refuses an existing output directory and leaves it as it was
    val before = new java.io.File(outAbs).list().toSet
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException](
      PartFileWriter.write(spark, rows, graft.model.RecordBatchRow.schema, outAbs,
        CommitTasks.BlockBytes, "base_offset"))
    assert(new java.io.File(outAbs).list().toSet == before)
  }

  test("append writes one part file per non-empty partition, no committer debris") {
    val dir = tmpDir("eslog-parts-")
    EsLog.create(dir)
    EsLog.open(dir, 1L)
    // 4 input partitions, the last two empty; targetFileBytes = 0 keeps the
    // input's partitioning
    val in = spark.range(0, 20, 1, 4).where(col("id") < 10)
      .select(col("id").cast("string").cast("binary").as("payload"))
    assert(EsLog.append(spark, dir, in, 1L, targetFileBytes = 0L) == ((0L, 10L)))
    val files = {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => java.nio.file.Paths.get(dir).relativize(p).toString)
        .filterNot(_.startsWith(graft.meta.MetaLog.LogDirName)).toSeq.sorted
      finally w.close()
    }
    val data = files.filterNot(_.split('/').last.startsWith("."))
    assert(data.map(_.split('/').last.take(10)) == Seq("part-00000", "part-00001"), files)
    assert(!files.exists(f => f.contains("_temporary") || f.endsWith("_SUCCESS")), files)
    val manifest = graft.meta.MetaLog.load(dir).allFiles
    assert(manifest.map(_.path).sorted == data)
    assert(manifest.map(f => (f.rows, f.startOffset, f.endOffset)).sortBy(_._2) ==
      Seq((5L, 0L, 5L), (5L, 5L, 10L)))
  }

  test("a write task failing mid-partition aborts the append and leaves no files") {
    val dir = tmpDir("eslog-taskfail-")
    EsLog.create(dir)
    EsLog.open(dir, 1L)
    val payload = col("id").cast("string").cast("binary").as("payload")
    EsLog.append(spark, dir, spark.range(10).select(payload), 1L)
    val version = graft.meta.MetaLog.latestVersion(dir)
    val state = graft.meta.MetaLog.load(dir)
    val segDir = new java.io.File(dir, "seg-00000")
    val segBefore = segDir.list().toSet
    // the stats pass evaluates every row once; the write pass throws on its
    // 51st row, half-way through the single partition's file
    EsLogSpec.calls.set(0)
    val flaky = udf { (id: Long) =>
      if (EsLogSpec.calls.incrementAndGet() > 150) throw new IllegalStateException("write task died")
      id.toString.getBytes("UTF-8")
    }.asNondeterministic()
    val e = intercept[Exception](EsLog.append(spark, dir,
      spark.range(0, 100, 1, 1).select(flaky(col("id")).as("payload")), 1L))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("write task died")), e)
    assert(EsLogSpec.calls.get > 150, "the write pass never ran")
    assert(graft.meta.MetaLog.latestVersion(dir) == version)
    assert(graft.meta.MetaLog.load(dir) == state)
    assert(segDir.list().toSet == segBefore, "the failed commit's directory was left behind")
    assert(EsLog.scan(spark, dir).count() == 10)
  }

  test("catalog: listStreams/scanAll load each stream state once, in parallel") {
    val root = tmpDir("cat-par-")
    val cat = new graft.eslog.EsCatalog(root)
    (0 until 100).foreach(i => cat.createStream(f"s$i%03d"))

    // instrument the seam: loads counted via the one-per-load checkpoint
    // probe (MetaLog.load no longer LISTS the log dir — it probes forward
    // from the checkpoint, so the old per-dir listing count would read 0),
    // concurrency peak tracked around version-file reads
    import graft.meta.{FsLogStore, LogStore, MetaLog}
    class CountingStore extends LogStore {
      val loadsPerDir = new scala.collection.concurrent.TrieMap[String, Int]
      val active = new java.util.concurrent.atomic.AtomicInteger
      val peak = new java.util.concurrent.atomic.AtomicInteger
      def read(p: String) = {
        if (p.contains("/streams/")) {
          val a = active.incrementAndGet()
          peak.getAndUpdate(x => math.max(x, a))
          try FsLogStore.read(p) finally active.decrementAndGet()
        } else FsLogStore.read(p)
      }
      def exists(p: String) = {
        // readLastCheckpoint probes _last_checkpoint exactly once per load
        if (p.contains("/streams/") && p.endsWith("_last_checkpoint"))
          loadsPerDir.updateWith(p)(c => Some(c.getOrElse(0) + 1))
        FsLogStore.exists(p)
      }
      def isDir(p: String) = FsLogStore.isDir(p)
      def list(dir: String) = FsLogStore.list(dir)
      def putIfAbsent(p: String, b: Array[Byte]) = FsLogStore.putIfAbsent(p, b)
      def putAtomic(p: String, b: Array[Byte]) = FsLogStore.putAtomic(p, b)
      def mkdirs(p: String) = FsLogStore.mkdirs(p)
      def delete(p: String) = FsLogStore.delete(p)
    }
    val counting = new CountingStore
    val prev = MetaLog.store
    MetaLog.store = counting
    try {
      val listed = cat.listStreams(spark)
      assert(listed.count() == 100)
      assert(listed.select("name").collect().map(_.getString(0)).sorted.head == "s000")
      // ONE metadata pass: each stream's state loaded exactly once
      assert(counting.loadsPerDir.size == 100, counting.loadsPerDir.size.toString)
      assert(counting.loadsPerDir.values.forall(_ == 1),
        counting.loadsPerDir.filter(_._2 > 1).toString)
      assert(counting.peak.get() >= 2, s"loads ran serially (peak=${counting.peak.get()})")

      counting.loadsPerDir.clear()
      // scanAll: the same single pass feeds the deleted-filter AND the scans
      cat.scanAll(spark)
      assert(counting.loadsPerDir.values.forall(_ == 1),
        counting.loadsPerDir.filter(_._2 > 1).toString)
    } finally MetaLog.store = prev
  }

  test("full lifecycle over a file: URI stream dir (scheme-aware paths)") {
    // URI-scheme dirs exercise the Hadoop path everywhere: the metadata log
    // routes to HadoopLogStore (scheme-aware default), data files go through
    // the Hadoop FileSystem — the same code path an hdfs:// or s3a:// dir
    // takes, driven here through file:/.
    val dir = "file:" + tmpDir("eslog-uri-")
    EsLog.create(dir, streamId = 91L)
    EsLog.open(dir, 1L)
    val in = spark.range(100).select(
      col("id"), col("id").cast("string").cast("binary").as("payload"))
    EsLog.append(spark, dir, in, 1L, sortKey = Some("id"), numPartitions = 4)
    assert(EsLog.scan(spark, dir).count() == 100)
    assert(EsLog.fetch(spark, dir, 10, 20).agg(min("base_offset"), max("base_offset"))
      .collect().head match { case r => r.getLong(0) == 10L && r.getLong(1) == 19L })
    // the log really lives behind the URI (versions on disk under _eslog)
    assert(graft.meta.MetaLog.latestVersion(dir) >= 2L)
    // connector read over the URI dir
    assert(spark.read.format("eslog").load(dir).count() == 100)
    // kv + checkpoint crossing through the Hadoop store (putAtomic path)
    (0 until 12).foreach(i => EsLog.putKV(dir, s"k$i", i.toString))
    assert(EsLog.getKV(dir, "k11").contains("11"))
    assert(graft.meta.MetaLog.load(dir).kv.size == 12)
    // trim drops the first file, compaction rewrites the sealed remainder
    EsLog.trim(dir, 25)
    assert(EsLog.scan(spark, dir).count() == 75)
    EsLog.seal(dir)
    EsLog.compact(spark, dir, targetBytes = Long.MaxValue)
    assert(EsLog.scan(spark, dir).count() == 75)
    assert(graft.meta.MetaLog.load(dir).allFiles.size == 1)
    // vacuum + delete, all scheme-aware
    EsLog.vacuum(dir, System.currentTimeMillis() + 25L * 3600 * 1000)
    assert(EsLog.scan(spark, dir).count() == 75)
    EsLog.delete(dir)
    assert(EsLog.describe(dir).deleted)
    assertThrows[IllegalStateException](EsLog.scan(spark, dir).count())
  }

  test("full lifecycle on S3 semantics: s3double:// dir, conditional-create log end-to-end") {
    // The strongest object-store proof a sandbox allows: DATA FILES and the
    // metadata log both live on the S3-semantics double — virtual
    // directories, no atomic rename guarantees, conditional-create CAS for
    // every log commit (HADOOP-19256 path) — and the engine's entire
    // lifecycle runs unchanged on top: append (Spark parquet writer +
    // commit protocol), scan/fetch pruning, kv + checkpoints, trim,
    // compaction, vacuum, delete.
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3double.impl", classOf[S3DoubleFileSystem].getName)
    hc.setBoolean(graft.meta.HadoopLogStore.ConditionalCreateKey, true)
    try {
      val dir = s"s3double://lifecycle${System.nanoTime()}/streams/s1"
      EsLog.create(dir, streamId = 92L)
      EsLog.open(dir, 1L)
      val in = spark.range(100).select(
        col("id"), col("id").cast("string").cast("binary").as("payload"))
      EsLog.append(spark, dir, in, 1L, sortKey = Some("id"), numPartitions = 4)
      assert(EsLog.scan(spark, dir).count() == 100)
      assert(EsLog.fetch(spark, dir, 10, 20).agg(min("base_offset"), max("base_offset"))
        .collect().head match { case r => r.getLong(0) == 10L && r.getLong(1) == 19L })
      assert(graft.meta.MetaLog.latestVersion(dir) >= 2L)
      assert(spark.read.format("eslog").load(dir).count() == 100)
      (0 until 12).foreach(i => EsLog.putKV(dir, s"k$i", i.toString))
      assert(EsLog.getKV(dir, "k11").contains("11"))
      EsLog.trim(dir, 25)
      assert(EsLog.scan(spark, dir).count() == 75)
      EsLog.seal(dir)
      EsLog.compact(spark, dir, targetBytes = Long.MaxValue)
      assert(EsLog.scan(spark, dir).count() == 75)
      assert(graft.meta.MetaLog.load(dir).allFiles.size == 1)
      EsLog.vacuum(dir, System.currentTimeMillis() + 25L * 3600 * 1000)
      assert(EsLog.scan(spark, dir).count() == 75)
      EsLog.delete(dir)
      assert(EsLog.describe(dir).deleted)
    } finally {
      hc.unset("fs.s3double.impl")
      hc.unset(graft.meta.HadoopLogStore.ConditionalCreateKey)
    }
  }

  test("cloneStream: independent deep copy, version-pinned head, cross-store onto S3 semantics") {
    import spark.implicits._
    val src = tmpDir("eslog-clone-src-")
    EsLog.create(src, streamId = 77L)
    EsLog.open(src, 1L)
    def batch(from: Long, n: Long) = spark.range(from, from + n).select(
      col("id"), col("id").cast("string").cast("binary").as("payload"))
    EsLog.append(spark, src, batch(0, 100), 1L, numPartitions = 2)
    val v1 = graft.meta.MetaLog.latestVersion(src)
    EsLog.append(spark, src, batch(100, 50), 1L, numPartitions = 2)

    // full clone: bit-equal content, history preserved
    val full = tmpDir("eslog-clone-full-")
    EsLog.cloneStream(spark, src, full)
    def rows(dir: String) =
      EsLog.scan(spark, dir).select("base_offset", "payload")
        .as[(Long, Array[Byte])].collect().map { case (o, p) => (o, new String(p)) }.toSet
    assert(rows(full) === rows(src))
    assert(graft.meta.MetaLog.latestVersion(full) == graft.meta.MetaLog.latestVersion(src))
    // the clone's own time travel works (log history rode along)
    assert(EsLog.scanAt(spark, full, v1).count() == 100)

    // version-pinned clone: head == that snapshot
    val pinned = tmpDir("eslog-clone-pin-")
    EsLog.cloneStream(spark, src, pinned, version = v1)
    assert(EsLog.scan(spark, pinned).count() == 100)
    assert(graft.meta.MetaLog.latestVersion(pinned) == v1)

    // cross-store: clone onto the S3-semantics double and read back there
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3double.impl", classOf[S3DoubleFileSystem].getName)
    try {
      val s3 = s"s3double://clone${System.nanoTime()}/streams/s1"
      EsLog.cloneStream(spark, src, s3)
      assert(rows(s3) === rows(src))
    } finally hc.unset("fs.s3double.impl")

    // independence: divergent append on the clone, trim on the source
    EsLog.open(full, 2L)
    EsLog.append(spark, full, batch(150, 25), 2L, numPartitions = 1)
    assert(EsLog.scan(spark, full).count() == 175)
    assert(EsLog.scan(spark, src).count() == 150)
    EsLog.trim(src, 100)
    assert(EsLog.scan(spark, src).count() == 50)
    assert(EsLog.scan(spark, full).count() == 175)

    // cloning ONTO an existing stream fails WITHOUT touching it — the guard
    // runs outside the failure-cleanup scope, so the cleanup can never
    // delete a destination this call did not create
    assertThrows[IllegalArgumentException](EsLog.cloneStream(spark, src, full))
    assert(EsLog.scan(spark, full).count() == 175)
    assert(EsLog.scanAt(spark, full, v1).count() == 100) // history intact too
  }

  test("lifecycle chaos: concurrent append/seal/trim/compact/kv keeps offsets contiguous") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    // Four writers race randomized lifecycle ops (seeded — reruns are
    // deterministic per thread). No epoch bumps: fencing has its own tests;
    // this one pins the CAS/commit invariants under full interleaving:
    //   (1) successful appends tile [0, nextOffset) with no overlap or gap,
    //   (2) the final scan is exactly [startOffset, nextOffset), each
    //       offset once, whatever trims and compactions landed in between.
    val dir = tmpDir("eslog-chaos-")
    EsLog.create(dir)
    EsLog.open(dir, 1L)
    val ranges = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { t =>
      new Thread(() => {
        val rnd = new scala.util.Random(1000 + t)
        try {
          (0 until 8).foreach { _ =>
            rnd.nextInt(10) match {
              case n if n < 5 => // append 20 rows
                val base = rnd.nextInt(1 << 20).toLong
                val b = spark.range(base, base + 20).select(
                  col("id"), col("id").cast("string").cast("binary").as("payload"))
                // a raced append loses its CAS and throws (losers leave no
                // files — pinned elsewhere); the client contract is retry
                var done = false
                var attempts = 0
                while (!done) {
                  try { ranges.add(EsLog.append(spark, dir, b, 1L, numPartitions = 1)); done = true }
                  catch { case _: graft.meta.ConcurrentCommitException =>
                    attempts += 1; require(attempts < 50, "append starved") }
                }
              case 5 | 6 => // trim somewhere below the current head
                val st = graft.meta.MetaLog.load(dir)
                if (st.nextOffset > 0) EsLog.trim(dir, rnd.nextLong(st.nextOffset + 1))
              case 7 => EsLog.seal(dir) // seal so compaction has work
              case 8 => EsLog.compact(spark, dir, targetBytes = Long.MaxValue)
              case _ => EsLog.putKV(dir, s"k${rnd.nextInt(8)}", t.toString)
            }
          }
        } catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    assert(errors.isEmpty, s"chaos ops failed: ${errors.asScala.map(_.toString).mkString("; ")}")

    // (1) append ranges tile [0, nextOffset)
    val sorted = ranges.asScala.toSeq.sortBy(_._1)
    val st = graft.meta.MetaLog.load(dir)
    sorted.foldLeft(0L) { (expect, r) =>
      assert(r._1 == expect, s"append ranges overlap or gap at $r (expected start $expect)")
      r._2
    }
    assert(sorted.lastOption.map(_._2).getOrElse(0L) == st.nextOffset)

    // (2) the scan is exactly the live range, each offset once
    val offs = EsLog.scan(spark, dir).select("base_offset").as[Long].collect().sorted
    assert(offs.toSeq == (st.startOffset until st.nextOffset),
      s"scan range mismatch: got ${offs.length} rows, state [${st.startOffset}, ${st.nextOffset})")
  }

  test("describe/update/delete surface") {
    val dir = tmpDir("eslog-ddl-")
    EsLog.create(dir, streamId = 9L, replica = 3, ackCount = 2, retentionMs = 1000L)
    val st = EsLog.describe(dir)
    assert(st.streamId == 9L && st.replica == 3 && st.ackCount == 2)
    EsLog.update(dir, retentionMs = Some(5000L))
    assert(EsLog.describe(dir).retentionMs == 5000L)
    EsLog.delete(dir)
    assert(EsLog.describe(dir).deleted)
    assertThrows[IllegalStateException](EsLog.scan(spark, dir))
  }

  test("capacity retention: byte and row policies, tail always survives, no-op budgets") {
    val dir = tmpDir("eslog-cap-")
    EsLog.create(dir, streamId = 36L)
    EsLog.open(dir, 1L)
    for (i <- 0 until 4) {
      val in = spark.range(i * 100L, (i + 1) * 100L).select(
        col("id"), col("id").cast("string").cast("binary").as("payload"))
      EsLog.append(spark, dir, in, 1L, sortKey = Some("id"), numPartitions = 1)
    }
    val files = EsLog.describe(dir).allFiles.sortBy(_.startOffset)
    assert(files.size == 4)
    // generous budgets: no-ops
    assert(EsLog.enforceRetentionBytes(dir, files.map(_.bytes).sum).startOffset == 0L)
    assert(EsLog.enforceRetentionRows(dir, 400L).startOffset == 0L)
    // row budget 150: newest file (100) + one more => keep [200, 400)
    assert(EsLog.enforceRetentionRows(dir, 150L).startOffset == 200L)
    // byte budget below even one file: the newest file still survives
    assert(EsLog.enforceRetentionBytes(dir, 1L).startOffset == 300L)
    assert(EsLog.scan(spark, dir).count() == 100L)
    // keepRows = 0 likewise keeps the tail file
    assert(EsLog.enforceRetentionRows(dir, 0L).startOffset == 300L)
    // empty stream: both are no-ops
    val empty = tmpDir("eslog-cap-empty-")
    EsLog.create(empty, streamId = 37L)
    assert(EsLog.enforceRetentionBytes(empty, 0L).startOffset == 0L)
    assert(EsLog.enforceRetentionRows(empty, 0L).startOffset == 0L)
  }

  test("symlink manifest export: external read == scan, trim rules, vacuum-safe") {
    val dir = tmpDir("eslog-symlink-")
    EsLog.create(dir, streamId = 33L)
    EsLog.open(dir, 1L)
    val in = spark.range(400).select(
      col("id"), col("id").cast("string").cast("binary").as("payload"))
    EsLog.append(spark, dir, in, 1L, sortKey = Some("id"), numPartitions = 4)
    val v1 = graft.meta.MetaLog.load(dir).version
    EsLog.append(spark, dir, spark.range(400, 500).select(
      col("id"), col("id").cast("string").cast("binary").as("payload")), 1L,
      sortKey = Some("id"), numPartitions = 1)

    // live export lists every committed file; an external-style read (text
    // manifest -> plain parquet scan, no eslog code) equals the scan
    val mf = EsLog.generateSymlinkManifest(dir)
    val listed = spark.read.textFile(mf).collect().toSeq
    assert(listed.size == graft.meta.MetaLog.load(dir).allFiles.size)
    val ext = spark.read.parquet(listed: _*)
      .select("base_offset").collect().map(_.getLong(0)).sorted
    assert(ext.sameElements(0L until 500L))

    // version-pinned export = that snapshot's files only, under its OWN
    // name — a backfill can never clobber the live manifest
    val mfV = EsLog.generateSymlinkManifest(dir, version = v1)
    assert(mfV != mf && mfV.endsWith(s"manifest-v$v1"))
    assert(spark.read.parquet(spark.read.textFile(mfV).collect().toSeq: _*)
      .count() == 400L)
    assert(spark.read.textFile(mf).count() == listed.size.toLong,
      "pinned export must not touch the live manifest")

    // vacuum never sweeps the export artifact
    EsLog.vacuum(dir, nowMs = System.currentTimeMillis() + 25L * 3600 * 1000)
    assert(spark.read.textFile(mf).count() > 0)

    // a mid-file trim refuses to export (external readers can't filter);
    // a file-boundary trim exports the post-trim view after regeneration
    EsLog.trim(dir, 30L)
    assertThrows[IllegalArgumentException](EsLog.generateSymlinkManifest(dir))
    EsLog.trim(dir, 100L) // file boundary (4 x 100 + 1 x 100)
    val mf2 = EsLog.generateSymlinkManifest(dir)
    val ext2 = spark.read.parquet(spark.read.textFile(mf2).collect().toSeq: _*)
      .select("base_offset").collect().map(_.getLong(0)).sorted
    assert(ext2.head == 100L && ext2.length == 400)
  }

  test("catalog: paginated LIST_RESOURCE walks the registry with continuation tokens") {
    val root = tmpDir("eslog-page-")
    val cat = new graft.eslog.EsCatalog(root)
    val names = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf")
    names.foreach(cat.createStream(_))
    // walk in pages of 3: 3 + 3 + 1, tokens chain, order preserved
    val (p1, t1) = cat.listStreamsPage(spark, 3)
    assert(p1.select("name").collect().map(_.getString(0)).toSeq ==
      Seq("alpha", "bravo", "charlie") && t1.contains("charlie"))
    val (p2, t2) = cat.listStreamsPage(spark, 3, t1)
    assert(p2.select("name").collect().map(_.getString(0)).toSeq ==
      Seq("delta", "echo", "foxtrot") && t2.contains("foxtrot"))
    val (p3, t3) = cat.listStreamsPage(spark, 3, t2)
    assert(p3.select("name").collect().map(_.getString(0)).toSeq == Seq("golf")
      && t3.isEmpty)
    // exact-boundary page: size == remaining -> complete, no dangling token
    val (pb, tb) = cat.listStreamsPage(spark, 7)
    assert(pb.count() == 7 && tb.isEmpty)
    // pages agree with the unpaginated listing row-for-row
    val full = cat.listStreams(spark).collect().map(_.toSeq).toSet
    val paged = (p1.collect() ++ p2.collect() ++ p3.collect()).map(_.toSeq).toSet
    assert(paged == full)
    assertThrows[IllegalArgumentException](cat.listStreamsPage(spark, 0))
  }

  test("consume-process-produce: atomic offset+data commit, replay-safe, zombie-fenced") {
    val src = tmpDir("eslog-cpp-src-")
    val dst = tmpDir("eslog-cpp-dst-")
    EsLog.create(src, streamId = 30L); EsLog.open(src, 1L)
    EsLog.create(dst, streamId = 31L); EsLog.open(dst, 1L)
    def put(lo: Long, hi: Long): Unit = {
      val in = spark.range(lo, hi).select(
        col("id"), col("id").cast("string").cast("binary").as("payload"))
      EsLog.append(spark, src, in, 1L, sortKey = Some("id"), numPartitions = 2)
    }
    def job(epoch: Long): (Long, Long) =
      EsLog.consumeProcessProduce(spark, src, dst, "etl", epoch,
        sortKey = Some("src_off")) { df =>
        df.where(col("base_offset") % 2 === 0) // keep evens
          .select(col("base_offset").as("src_off"), col("payload"),
            map(lit("src_off"), col("base_offset").cast("string")).as("properties"))
      }
    put(0L, 100L)
    assert(job(1L) == (0L, 100L))
    assert(EsLog.nextOffset(dst) == 50L)
    // replay = no-op: position rode the data commit
    assert(job(1L) == (100L, 100L))
    assert(EsLog.nextOffset(dst) == 50L)
    // incremental round picks up exactly the delta
    put(100L, 160L)
    assert(job(1L) == (100L, 160L))
    assert(EsLog.nextOffset(dst) == 80L)
    // output = every even source offset exactly once, in order
    val srcOffs = EsLog.scan(spark, dst)
      .select(col("properties")("src_off").cast("long")).collect().map(_.getLong(0)).sorted
    assert(srcOffs.sameElements(0L until 160L by 2))
    // zombie fencing: a new generation opens dst at epoch 2; the old
    // generation's job must be fenced BEFORE committing data or position
    EsLog.open(dst, 2L)
    put(160L, 170L)
    assertThrows[FencedException](job(1L))
    assert(EsLog.getKV(dst, EsLog.GroupKeyPrefix + "etl").contains("160"))
    assert(EsLog.nextOffset(dst) == 80L)
    // the live generation drains the slice; an all-filtered slice still
    // advances the position (no spin)
    assert(job(2L) == (160L, 170L))
    EsLog.trim(src, 170L) // nothing new
    put(170L, 171L) // one odd... 170 is even; use a slice that filters empty
    EsLog.consumeProcessProduce(spark, src, dst, "etl", 2L) { df =>
      df.where(lit(false)).select(col("payload"))
    }
    assert(EsLog.getKV(dst, EsLog.GroupKeyPrefix + "etl").contains("171"))
    // the EMPTY-slice position advance is fenced and CAS'd like the data
    // path: a zombie of a fenced generation must not move the position
    put(171L, 172L)
    EsLog.open(dst, 3L)
    assertThrows[FencedException](
      EsLog.consumeProcessProduce(spark, src, dst, "etl", 2L) { df =>
        df.where(lit(false)).select(col("payload"))
      })
    assert(EsLog.getKV(dst, EsLog.GroupKeyPrefix + "etl").contains("171"))
    EsLog.consumeProcessProduce(spark, src, dst, "etl", 3L) { df =>
      df.where(lit(false)).select(col("payload"))
    }
    assert(EsLog.getKV(dst, EsLog.GroupKeyPrefix + "etl").contains("172"))
    // generation identity: a position beyond the source head (drop+recreate)
    // fails loudly instead of consuming nothing forever
    EsLog.putKV(dst, EsLog.GroupKeyPrefix + "etl", "9999")
    assertThrows[IllegalArgumentException](
      EsLog.consumeProcessProduce(spark, src, dst, "etl", 2L)(identity))
    EsLog.putKV(src, EsLog.GroupKeyPrefix + "direct", "9999")
    assertThrows[IllegalArgumentException](EsLog.readGroup(spark, src, "direct"))
  }

  test("consume-process-produce under seeded crash injection: global exactly-once") {
    // every crash point the loop's atomicity argument covers, exercised at
    // random: (a) crash INSIDE process (nothing lands — retry reprocesses);
    // (b) replay of a COMPLETED round (position rode the commit — no-op);
    // the mid-commit case is the MetaLog CAS's own atomicity, covered by
    // its contract suite. After any interleaving, the destination must hold
    // every kept source row exactly once.
    val src = tmpDir("eslog-cpp-chaos-src-")
    val dst = tmpDir("eslog-cpp-chaos-dst-")
    EsLog.create(src, streamId = 34L); EsLog.open(src, 1L)
    EsLog.create(dst, streamId = 35L); EsLog.open(dst, 1L)
    val rnd = new scala.util.Random(42)
    var srcHead = 0L
    def job(crash: Boolean): Unit = {
      try EsLog.consumeProcessProduce(spark, src, dst, "etl", 1L,
        sortKey = Some("src_off")) { df =>
        if (crash) throw new RuntimeException("injected crash in process")
        df.where(col("base_offset") % 3 === 0)
          .select(col("base_offset").as("src_off"), col("payload"),
            map(lit("src_off"), col("base_offset").cast("string")).as("properties"))
      } catch { case e: RuntimeException if e.getMessage.contains("injected") => () }
    }
    for (round <- 0 until 15) {
      val k = 20 + rnd.nextInt(60)
      val in = spark.range(srcHead, srcHead + k).select(
        col("id"), col("id").cast("string").cast("binary").as("payload"))
      EsLog.append(spark, src, in, 1L, sortKey = Some("id"), numPartitions = 2)
      srcHead += k
      rnd.nextInt(3) match {
        case 0 => job(crash = false)                       // normal
        case 1 => job(crash = true); job(crash = false)    // crash, then retry
        case 2 => job(crash = false); job(crash = false)   // replay a success
      }
    }
    job(crash = false) // final drain
    val got = EsLog.scan(spark, dst)
      .select(col("properties")("src_off").cast("long"))
      .collect().map(_.getLong(0)).sorted
    val want = (0L until srcHead).filter(_ % 3 == 0)
    assert(got.length == want.length && got.sameElements(want),
      s"exactly-once broken: ${got.length} rows vs ${want.length} expected " +
        s"(dups: ${got.diff(got.distinct).take(5).mkString(",")})")
    assert(EsLog.getKV(dst, EsLog.GroupKeyPrefix + "etl").contains(srcHead.toString))
  }

  test("fan-in consume-process-produce: N positions + data in one commit, replay-safe, race-guarded") {
    val srcs = (0 until 3).map { i =>
      val d = tmpDir(s"eslog-fanin-src$i-")
      EsLog.create(d, streamId = 70L + i); EsLog.open(d, 1L)
      d
    }
    val dst = tmpDir("eslog-fanin-dst-")
    EsLog.create(dst, streamId = 69L); EsLog.open(dst, 1L)
    def put(i: Int, lo: Long, hi: Long): Unit = {
      val in = spark.range(lo, hi).select(
        col("id"), col("id").cast("string").cast("binary").as("payload"))
      EsLog.append(spark, srcs(i), in, 1L, sortKey = Some("id"), numPartitions = 2)
    }
    def job(epoch: Long, hook: () => Unit = () => ()): Seq[(Long, Long)] =
      EsLog.consumeProcessProduceMulti(spark, srcs, dst, "fan", epoch,
        sortKey = Some("sk")) { slices =>
        hook()
        slices.zipWithIndex.map { case (df, i) =>
          df.select((lit(i.toLong) * 1000000L + col("base_offset")).as("sk"),
            col("payload"),
            map(lit("tag"), concat_ws(":", lit(i.toString),
              col("base_offset").cast("string"))).as("properties"))
        }.reduce(_.unionByName(_))
      }
    put(0, 0L, 10L); put(1, 0L, 20L); put(2, 0L, 5L)
    assert(job(1L) == Seq((0L, 10L), (0L, 20L), (0L, 5L)))
    assert(EsLog.nextOffset(dst) == 35L)
    // replay: all caught up, nothing lands
    assert(job(1L) == Seq((10L, 10L), (20L, 20L), (5L, 5L)))
    assert(EsLog.nextOffset(dst) == 35L)
    // incremental: only source 1 advanced — its delta alone is consumed
    put(1, 20L, 26L)
    assert(job(1L) == Seq((10L, 10L), (20L, 26L), (5L, 5L)))
    assert(EsLog.nextOffset(dst) == 41L)
    // per-source positions are ordinary groups, keyed by stream id
    assert(EsLog.groupOffset(dst, EsLog.fanInGroup("fan", 70L)).contains(10L))
    assert(EsLog.groupOffset(dst, EsLog.fanInGroup("fan", 71L)).contains(26L))
    assert(EsLog.groupOffset(dst, EsLog.fanInGroup("fan", 72L)).contains(5L))
    // destination holds every (src, off) exactly once
    val tags = EsLog.scan(spark, dst).select(col("properties")("tag"))
      .collect().map(_.getString(0)).sorted
    val want = (Seq.tabulate(10)(o => s"0:$o") ++ Seq.tabulate(26)(o => s"1:$o") ++
      Seq.tabulate(5)(o => s"2:$o")).sorted
    assert(tags.sameElements(want), s"${tags.length} vs ${want.length}")
    // same-epoch race: a rival advances source 0's position between this
    // instance's read and its append (injected inside process) — the guard
    // fails the commit; nothing lands, the rival's position survives
    put(0, 10L, 12L)
    val key = EsLog.GroupKeyPrefix + EsLog.fanInGroup("fan", 70L)
    assertThrows[graft.meta.ConcurrentCommitException](
      job(1L, hook = () => EsLog.putKV(dst, key, "12")))
    assert(EsLog.getKV(dst, key).contains("12"))
    assert(EsLog.nextOffset(dst) == 41L, "guarded loser must append nothing")
    EsLog.putKV(dst, key, "10") // restore the true position
    // zombie fencing: a new generation owns dst; the old epoch throws
    EsLog.open(dst, 2L)
    assertThrows[FencedException](job(1L))
    assert(job(2L) == Seq((10L, 12L), (26L, 26L), (5L, 5L)))
    // all-filtered slice still advances positions (fenced + guarded commit)
    put(2, 5L, 7L)
    EsLog.consumeProcessProduceMulti(spark, srcs, dst, "fan", 2L) { slices =>
      slices.head.where(lit(false)).select(col("payload"))
    }
    assert(EsLog.groupOffset(dst, EsLog.fanInGroup("fan", 72L)).contains(7L))
    // identity discipline: duplicate stream ids are rejected up front
    assertThrows[IllegalArgumentException](
      EsLog.consumeProcessProduceMulti(spark, Seq(srcs(0), srcs(0)), dst,
        "fan", 2L)(_.head))
  }

  test("fan-in consume-process-produce under seeded crash injection: global exactly-once") {
    // the fan-in twin of the single-source chaos test: random interleavings
    // of per-source appends, crashes INSIDE process (nothing lands — all N
    // positions and the data are one commit), and replays of completed
    // rounds; after any interleaving the destination holds every kept
    // (source, offset) exactly once
    val srcs = (0 until 3).map { i =>
      val d = tmpDir(s"eslog-fanin-chaos-src$i-")
      EsLog.create(d, streamId = 80L + i); EsLog.open(d, 1L)
      d
    }
    val dst = tmpDir("eslog-fanin-chaos-dst-")
    EsLog.create(dst, streamId = 79L); EsLog.open(dst, 1L)
    val rnd = new scala.util.Random(7)
    val heads = Array.fill(3)(0L)
    def job(crash: Boolean): Unit = {
      try EsLog.consumeProcessProduceMulti(spark, srcs, dst, "fan", 1L,
        sortKey = Some("sk")) { slices =>
        if (crash) throw new RuntimeException("injected crash in process")
        slices.zipWithIndex.map { case (df, i) =>
          df.where(col("base_offset") % 3 === 0) // keep every third offset
            .select((lit(i.toLong) * 1000000L + col("base_offset")).as("sk"),
              col("payload"),
              map(lit("tag"), concat_ws(":", lit(i.toString),
                col("base_offset").cast("string"))).as("properties"))
        }.reduce(_.unionByName(_))
      } catch { case e: RuntimeException if e.getMessage.contains("injected") => () }
    }
    for (round <- 0 until 12) {
      // advance a random non-empty subset of sources by random amounts
      (0 until 3).filter(_ => rnd.nextBoolean()) match {
        case picked if picked.nonEmpty => picked.foreach { i =>
          val k = 5 + rnd.nextInt(30)
          val in = spark.range(heads(i), heads(i) + k).select(
            col("id"), col("id").cast("string").cast("binary").as("payload"))
          EsLog.append(spark, srcs(i), in, 1L, sortKey = Some("id"), numPartitions = 2)
          heads(i) += k
        }
        case _ => ()
      }
      rnd.nextInt(3) match {
        case 0 => job(crash = false)
        case 1 => job(crash = true); job(crash = false)
        case 2 => job(crash = false); job(crash = false)
      }
    }
    job(crash = false) // final drain
    val got = EsLog.scan(spark, dst).select(col("properties")("tag"))
      .collect().map(_.getString(0)).sorted
    val want = (0 until 3).flatMap { i =>
      (0L until heads(i)).filter(_ % 3 == 0).map(o => s"$i:$o")
    }.sorted
    assert(got.length == want.length && got.sameElements(want),
      s"fan-in exactly-once broken: ${got.length} rows vs ${want.length} expected " +
        s"(dups: ${got.diff(got.distinct).take(5).mkString(",")})")
    (0 until 3).foreach { i =>
      assert(EsLog.groupOffset(dst, EsLog.fanInGroup("fan", 80L + i))
        .contains(heads(i)), s"source $i position must sit at its head")
    }
  }

  test("fan-out consume-process-produce: one slice to N destinations, replay-safe, fenced") {
    val src = tmpDir("eslog-fanout-src-")
    EsLog.create(src, streamId = 90L); EsLog.open(src, 1L)
    val dsts = (0 until 3).map { i =>
      val d = tmpDir(s"eslog-fanout-dst$i-")
      EsLog.create(d, streamId = 91L + i); EsLog.open(d, 1L)
      d
    }
    def put(lo: Long, hi: Long): Unit = {
      val in = spark.range(lo, hi).select(
        col("id"), col("id").cast("string").cast("binary").as("payload"))
      EsLog.append(spark, src, in, 1L, sortKey = Some("id"), numPartitions = 2)
    }
    def route(slice: org.apache.spark.sql.DataFrame, i: Int) =
      slice.where(col("base_offset") % 3 === i)
        .select(col("base_offset").as("sk"), col("payload"),
          map(lit("tag"), concat_ws(":", lit(i.toString),
            col("base_offset").cast("string"))).as("properties"))
    def job(epoch: Long): (Long, Long) =
      EsLog.consumeProcessProduceFanOut(spark, src, dsts, "route", epoch,
        sortKey = Some("sk"))(route)
    put(0L, 30L)
    assert(job(1L) == (0L, 30L))
    dsts.foreach(d => assert(EsLog.nextOffset(d) == 10L))
    // replay: caught up, nothing lands anywhere
    assert(job(1L) == (30L, 30L))
    dsts.foreach(d => assert(EsLog.nextOffset(d) == 10L))
    // incremental: only the delta routes
    put(30L, 36L)
    assert(job(1L) == (30L, 36L))
    dsts.foreach(d => assert(EsLog.nextOffset(d) == 12L))
    // every destination holds exactly its residue class, exactly once
    dsts.zipWithIndex.foreach { case (d, i) =>
      val tags = EsLog.scan(spark, d).select(col("properties")("tag"))
        .collect().map(_.getString(0)).sorted
      val want = (0L until 36L).filter(_ % 3 == i).map(o => s"$i:$o").sorted
      assert(tags.sameElements(want), s"dst $i: ${tags.length} vs ${want.length}")
    }
    // the group position lives on the SOURCE, readable as an ordinary group
    assert(EsLog.groupOffset(src, "route").contains(36L))
    // zombie fencing mid-protocol: destination 1 moves to a new generation;
    // the old-epoch job applies dst 0, then throws at dst 1 — intent stays
    put(36L, 39L)
    EsLog.open(dsts(1), 2L)
    assert(EsLog.fanOutIntent(src, "route").isEmpty, "no intent before the run")
    assertThrows[FencedException](job(1L))
    assert(EsLog.nextOffset(dsts(0)) == 13L, "dst 0 applied before the fence")
    assert(EsLog.nextOffset(dsts(1)) == 12L, "fenced dst must hold nothing new")
    assert(EsLog.groupOffset(src, "route").contains(36L),
      "source position must not advance while the intent is incomplete")
    // the stuck intent is visible to the admin surface while incomplete
    assert(EsLog.fanOutIntent(src, "route").contains((36L, 39L)))
    // recovery at the new epoch adopts the intent: dst 0 skips on its
    // marker (no double-delivery), dst 1 and 2 apply, intent completes
    assert(job(2L) == (36L, 39L))
    dsts.foreach(d => assert(EsLog.nextOffset(d) == 13L))
    assert(EsLog.groupOffset(src, "route").contains(39L))
    assert(EsLog.fanOutIntent(src, "route").isEmpty, "completed intent must clear")
    dsts.zipWithIndex.foreach { case (d, i) =>
      val tags = EsLog.scan(spark, d).select(col("properties")("tag"))
        .collect().map(_.getString(0)).sorted
      val want = (0L until 39L).filter(_ % 3 == i).map(o => s"$i:$o").sorted
      assert(tags.sameElements(want), s"dst $i after recovery: ${tags.length} vs ${want.length}")
    }
    // duplicate destinations rejected up front
    assertThrows[IllegalArgumentException](
      EsLog.consumeProcessProduceFanOut(spark, src, Seq(dsts(0), dsts(0)),
        "route", 2L)((s, _) => s.select(col("payload"))))
  }

  test("fan-out under seeded crash injection between destination applies: per-destination exactly-once") {
    val src = tmpDir("eslog-fanout-chaos-src-")
    EsLog.create(src, streamId = 95L); EsLog.open(src, 1L)
    val dsts = (0 until 3).map { i =>
      val d = tmpDir(s"eslog-fanout-chaos-dst$i-")
      EsLog.create(d, streamId = 96L + i); EsLog.open(d, 1L)
      d
    }
    val rnd = new scala.util.Random(11)
    var head = 0L
    def route(slice: org.apache.spark.sql.DataFrame, i: Int) =
      slice.where(col("base_offset") % 3 === i)
        .where(col("base_offset") % 2 === 0) // and an in-route filter
        .select(col("base_offset").as("sk"), col("payload"),
          map(lit("tag"), concat_ws(":", lit(i.toString),
            col("base_offset").cast("string"))).as("properties"))
    def job(crashAfter: Int): Unit = {
      // crashAfter = k kills the job after k-th destination's apply commits
      // (-1 = crash inside process before anything lands; 3 = run clean)
      try EsLog.fanOutRun(spark, src, dsts, "route", 1L, Some("sk"),
        afterApply = i =>
          if (i >= crashAfter) throw new RuntimeException("injected crash between applies")) {
        (slice, i) =>
          if (crashAfter < 0) throw new RuntimeException("injected crash in process")
          route(slice, i)
      } catch { case e: RuntimeException if e.getMessage.contains("injected") => () }
    }
    for (_ <- 0 until 12) {
      if (rnd.nextBoolean()) {
        val k = 5 + rnd.nextInt(30)
        val in = spark.range(head, head + k).select(
          col("id"), col("id").cast("string").cast("binary").as("payload"))
        EsLog.append(spark, src, in, 1L, sortKey = Some("id"), numPartitions = 2)
        head += k
      }
      rnd.nextInt(4) match {
        case 0 => job(crashAfter = 3)                       // clean
        case 1 => job(crashAfter = rnd.nextInt(3)); job(3)  // crash mid-apply, recover
        case 2 => job(crashAfter = -1); job(3)              // crash in process, recover
        case 3 => job(3); job(3)                            // replay a success
      }
    }
    job(crashAfter = 3) // final drain
    dsts.zipWithIndex.foreach { case (d, i) =>
      val tags = EsLog.scan(spark, d).select(col("properties")("tag"))
        .collect().map(_.getString(0)).sorted
      val want = (0L until head).filter(o => o % 3 == i && o % 2 == 0)
        .map(o => s"$i:$o").sorted
      assert(tags.length == want.length && tags.sameElements(want),
        s"fan-out exactly-once broken at dst $i: ${tags.length} vs ${want.length} " +
          s"(dups: ${tags.diff(tags.distinct).take(5).mkString(",")})")
    }
    assert(EsLog.groupOffset(src, "route").contains(head),
      "source position must sit at the head after the drain")
  }

  test("fan-out model pin: one crash schedule, production store state == FanOutProtocol prediction") {
    // the fidelity link FanOutProtocolSpec's exhaustive enumeration rests
    // on: drive ONE concrete schedule (cut intent, apply destination 0,
    // crash, then a recovery run) through the REAL fanOutRun and through
    // the pure model, and assert the observable store state matches the
    // model state at both the crash point and quiescence.
    import graft.eslog.FanOutProtocol
    import graft.eslog.FanOutProtocol._
    val src = tmpDir("eslog-fanout-pin-src-")
    EsLog.create(src, streamId = 120L); EsLog.open(src, 1L)
    val dsts = (0 until 2).map { i =>
      val d = tmpDir(s"eslog-fanout-pin-dst$i-")
      EsLog.create(d, streamId = 121L + i); EsLog.open(d, 1L)
      d
    }
    val n = 20L
    EsLog.append(spark, src, spark.range(n).select(
      col("id"), col("id").cast("string").cast("binary").as("payload")),
      1L, sortKey = Some("id"), numPartitions = 2)
    // model: producer appended n; writer steps to the crash point (after
    // destination 0's apply lands)
    var g = initial(2).copy(src = Source(None, None, n, Vector.empty))
    var pc: Pc = IntentRead
    while (!pc.isInstanceOf[ApplyRead] ||
           pc.asInstanceOf[ApplyRead].i == 0) {
      val r = FanOutProtocol.step(g, pc, (_, _) => true); g = r._1; pc = r._2
    } // pc is now ApplyRead(span, 1): destination 0 applied, 1 not yet
    // production: same schedule via the afterApply crash hook
    try EsLog.fanOutRun(spark, src, dsts, "pin", 1L, Some("sk"),
      afterApply = i => if (i == 0) throw new RuntimeException("injected")) {
      (slice, _) => slice.select(col("base_offset").as("sk"), col("payload"))
    } catch { case e: RuntimeException if e.getMessage == "injected" => () }
    // crash-point state must match the model's
    assert(EsLog.fanOutIntent(src, "pin") == g.src.intent,
      "intent at the crash point must match the model")
    assert(EsLog.nextOffset(dsts(0)) == g.dsts(0).delivered.map(s => s._2 - s._1).sum,
      "destination 0 must hold exactly the model's delivered span")
    assert(EsLog.nextOffset(dsts(1)) == g.dsts(1).delivered.map(s => s._2 - s._1).sum,
      "destination 1 must hold nothing yet, like the model")
    assert(EsLog.groupOffset(src, "pin").isEmpty && g.src.pos.isEmpty,
      "the position must not have moved in either world")
    // recovery: model's recover() vs a clean production re-run
    val gFinal = FanOutProtocol.recover(g, (_, _) => true)
    EsLog.fanOutRun(spark, src, dsts, "pin", 1L, Some("sk"), _ => ()) {
      (slice, _) => slice.select(col("base_offset").as("sk"), col("payload"))
    }
    assert(EsLog.fanOutIntent(src, "pin").isEmpty && gFinal.src.intent.isEmpty)
    assert(EsLog.groupOffset(src, "pin") == gFinal.src.pos)
    dsts.zipWithIndex.foreach { case (d, i) =>
      assert(EsLog.nextOffset(d) == gFinal.dsts(i).delivered.map(s => s._2 - s._1).sum,
        s"destination $i at quiescence must match the model")
      // and exactly once: offsets dense 0..n-1, no duplicates
      val offs = EsLog.scan(spark, d).select("base_offset")
        .collect().map(_.getLong(0)).sorted
      assert(offs.sameElements(0L until n), s"dst $i offsets: ${offs.take(5).mkString(",")}")
    }
  }

  test("fan-out under TRUE concurrency: two same-epoch rivals, per-destination exactly-once") {
    // two instances race the same group concurrently for several rounds —
    // the intent CAS makes them agree on each span, the applied-span
    // markers make double-apply impossible, and a guard loser surfaces as
    // ConcurrentCommitException (caught; the next round drains). The
    // invariant after any interleaving: every destination holds exactly
    // its routed subset, once.
    val src = tmpDir("eslog-fanout-race-src-")
    EsLog.create(src, streamId = 101L); EsLog.open(src, 1L)
    val dsts = (0 until 2).map { i =>
      val d = tmpDir(s"eslog-fanout-race-dst$i-")
      EsLog.create(d, streamId = 102L + i); EsLog.open(d, 1L)
      d
    }
    def route(slice: org.apache.spark.sql.DataFrame, i: Int) =
      slice.where(col("base_offset") % 2 === i)
        .select(col("base_offset").as("sk"), col("payload"),
          map(lit("tag"), concat_ws(":", lit(i.toString),
            col("base_offset").cast("string"))).as("properties"))
    def job(): Unit =
      try EsLog.consumeProcessProduceFanOut(spark, src, dsts, "race", 1L,
        sortKey = Some("sk"))(route)
      catch { case _: graft.meta.ConcurrentCommitException => () }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    var head = 0L
    for (round <- 0 until 4) {
      val k = 10 + round * 5
      val in = spark.range(head, head + k).select(
        col("id"), col("id").cast("string").cast("binary").as("payload"))
      EsLog.append(spark, src, in, 1L, sortKey = Some("id"), numPartitions = 2)
      head += k
      val rivals = Seq(Future(job()), Future(job()))
      rivals.foreach(Await.result(_, 120.seconds))
    }
    job() // final drain (a round may have ended with a swallowed loser)
    dsts.zipWithIndex.foreach { case (d, i) =>
      val tags = EsLog.scan(spark, d).select(col("properties")("tag"))
        .collect().map(_.getString(0)).sorted
      val want = (0L until head).filter(_ % 2 == i).map(o => s"$i:$o").sorted
      assert(tags.length == want.length && tags.sameElements(want),
        s"concurrent fan-out broke exactly-once at dst $i: ${tags.length} vs " +
          s"${want.length} (dups: ${tags.diff(tags.distinct).take(5).mkString(",")})")
    }
    assert(EsLog.groupOffset(src, "race").contains(head))
    assert(EsLog.fanOutIntent(src, "race").isEmpty)
  }

  test("time index: fetchByTime prunes files via manifest stats; offsetForTimestamp reads one file") {
    val dir = tmpDir("eslog-time-")
    EsLog.create(dir, streamId = 20L)
    EsLog.open(dir, 1L)
    // 4 commits of 250 ids each, ts = id*10 => commit c covers [c*2500, (c+1)*2500)
    for (c <- 0 until 4) {
      val in = spark.range(c * 250L, (c + 1) * 250L).select(
        col("id"),
        col("id").cast("string").cast("binary").as("payload"),
        (col("id") * 10L).as("base_timestamp"))
      EsLog.append(spark, dir, in, 1L, sortKey = Some("id"), numPartitions = 1)
    }
    assert(EsLog.describe(dir).allFiles.size == 4)

    // window fully inside commit 1: exactly ONE file planned
    val mid = EsLog.fetchByTime(spark, dir, 2500L, 5000L)
    assert(mid.inputFiles.length == 1, mid.inputFiles.toSeq)
    val midOffs = mid.select("base_offset").collect().map(_.getLong(0)).sorted
    assert(midOffs.sameElements(250L until 500L))

    // window straddling the commit-1/commit-2 boundary: two files, tight rows
    val strad = EsLog.fetchByTime(spark, dir, 4990L, 5020L)
    assert(strad.inputFiles.length == 2, strad.inputFiles.toSeq)
    assert(strad.select("base_offset").collect().map(_.getLong(0)).sorted
      .sameElements(Seq(499L, 500L, 501L)))

    // empty / inverted windows
    assert(EsLog.fetchByTime(spark, dir, 100000L, 200000L).count() == 0)
    assert(EsLog.fetchByTime(spark, dir, 5000L, 5000L).count() == 0)

    // ListOffsets-by-timestamp: before-all -> 0; exact & between -> earliest
    // qualifying; past-newest -> nextOffset
    assert(EsLog.offsetForTimestamp(spark, dir, -5L) == 0L)
    assert(EsLog.offsetForTimestamp(spark, dir, 0L) == 0L)
    assert(EsLog.offsetForTimestamp(spark, dir, 4995L) == 500L)
    assert(EsLog.offsetForTimestamp(spark, dir, 5000L) == 500L)
    assert(EsLog.offsetForTimestamp(spark, dir, 9990L) == 999L)
    assert(EsLog.offsetForTimestamp(spark, dir, 9991L) == 1000L)

    // trim clamps both surfaces: offsets below the trim point are gone even
    // when their timestamps qualify
    EsLog.trim(dir, 300L)
    assert(EsLog.offsetForTimestamp(spark, dir, 0L) == 300L)
    val postTrim = EsLog.fetchByTime(spark, dir, 0L, 5000L)
      .select("base_offset").collect().map(_.getLong(0)).sorted
    assert(postTrim.head == 300L && postTrim.length == 200)
  }

  test("offsetForTimestamp is exact when event time is NOT offset-monotonic") {
    val dir = tmpDir("eslog-time-scram-")
    EsLog.create(dir, streamId = 21L)
    EsLog.open(dir, 1L)
    // offsets 0..99, but ts scrambled: ts = ((id*37) % 100) * 10
    val in = spark.range(100).select(
      col("id"),
      col("id").cast("string").cast("binary").as("payload"),
      ((col("id") * 37L) % 100L * 10L).as("base_timestamp"))
    EsLog.append(spark, dir, in, 1L, sortKey = Some("id"), numPartitions = 4)
    val probe = 500L
    val expect = (0L until 100L).filter(id => (id * 37) % 100 * 10 >= probe).min
    assert(EsLog.offsetForTimestamp(spark, dir, probe) == expect)
    // fall-through edge: ts 990 belongs to exactly one row (id 27, since
    // 37 is invertible mod 100); trimming past it leaves its file's
    // timestamp stats qualifying but no READABLE qualifying row — the
    // lookup must fall through to the miss answer, never return a stale hit
    assert(EsLog.offsetForTimestamp(spark, dir, 990L) == 27L)
    EsLog.trim(dir, 28L)
    assert(EsLog.offsetForTimestamp(spark, dir, 990L) == 100L)
  }

  test("consumer group offsets: CAS commit chain, catch-up reads, fencing") {
    val dir = tmpDir("eslog-group-")
    EsLog.create(dir, streamId = 22L)
    EsLog.open(dir, 1L)
    def put(lo: Long, hi: Long): Unit = {
      val in = spark.range(lo, hi).select(
        col("id"), col("id").cast("string").cast("binary").as("payload"))
      EsLog.append(spark, dir, in, 1L, sortKey = Some("id"), numPartitions = 2)
    }
    put(0L, 100L)
    val (df1, upTo1, prev1) = EsLog.readGroup(spark, dir, "g")
    assert(prev1.isEmpty && upTo1 == 100L && df1.count() == 100L)
    assert(EsLog.commitGroupOffset(dir, "g", upTo1, prev1))
    assert(EsLog.groupOffset(dir, "g").contains(100L))
    // fencing: a stale expected value refuses (another instance won)
    assert(!EsLog.commitGroupOffset(dir, "g", 50L, None))
    assert(!EsLog.commitGroupOffset(dir, "g", 120L, Some(99L)))
    assert(EsLog.groupOffset(dir, "g").contains(100L))

    put(100L, 150L)
    val (df2, upTo2, prev2) = EsLog.readGroup(spark, dir, "g")
    assert(prev2.contains(100L) && upTo2 == 150L)
    assert(df2.select("base_offset").collect().map(_.getLong(0)).sorted
      .sameElements(100L until 150L))
    assert(EsLog.commitGroupOffset(dir, "g", upTo2, prev2))

    // caught up: an immediate re-read delivers nothing
    val (df3, upTo3, prev3) = EsLog.readGroup(spark, dir, "g")
    assert(df3.count() == 0 && upTo3 == 150L && prev3.contains(150L))

    // groups are independent; reserved prefix is invisible to them
    assert(EsLog.groupOffset(dir, "other").isEmpty)
    val (dfO, _, _) = EsLog.readGroup(spark, dir, "other")
    assert(dfO.count() == 150L)
    // malformed group names refuse early
    assertThrows[IllegalArgumentException](EsLog.groupOffset(dir, "a/b"))
    assertThrows[IllegalArgumentException](EsLog.commitGroupOffset(dir, "", 0L, None))
  }
}

object EsLogSpec {
  /** Rows a test UDF has evaluated, across the tasks of one local session. */
  val calls = new java.util.concurrent.atomic.AtomicInteger
}
