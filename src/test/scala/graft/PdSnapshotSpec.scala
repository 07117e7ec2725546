package graft

import org.apache.spark.sql.functions._

import graft.eslog.{EsCatalog, EsLog}
import graft.meta.MetaLog
import graft.model.PdSnapshot
import graft.model.PdSnapshot.{PdKey, PdRange, PdStream}

/** The PD etcd metadata snapshot codec and the migration-in pipeline it
  * feeds: key formats (endpoint/endpoint.go:24-27), FlatBuffers Stream/Range
  * values (rpc.fbs:479-492, 392-425), catalog ingest
  * ([[EsCatalog.ingestPdSnapshot]]), offset-preserving backfill under the
  * imported boundaries ([[EsLog.backfill]]), and the export twin. */
class PdSnapshotSpec extends SparkTestBase {

  test("keys: zero-padded formats parse back; noise classifies as Other") {
    assert(PdSnapshot.streamKey(7L) == "streams/00000000000000000007")
    assert(PdSnapshot.rangeKey(7L, 3) == "s/00000000000000000007/ranges/00000000003")
    assert(PdSnapshot.rangeOnServerKey(2, 7L, 3) ==
      "rs/00000000002/stream-range/00000000000000000007/00000000003")
    assert(PdSnapshot.parseKey(PdSnapshot.streamKey(42L)) == PdKey.Stream(42L))
    assert(PdSnapshot.parseKey(PdSnapshot.rangeKey(42L, 9)) == PdKey.Range(42L, 9))
    assert(PdSnapshot.parseKey(PdSnapshot.rangeOnServerKey(1, 42L, 9)) ==
      PdKey.OnServer(1, 42L, 9))
    assert(PdSnapshot.parseKey("cluster/id") == PdKey.Other("cluster/id"))
    assert(PdSnapshot.parseKey("streams/") == PdKey.Other("streams/"))
  }

  test("Stream/Range values: official-builder encode, binary-walk decode, schema defaults") {
    val s = PdStream(77L, 3, 2, 604800000L)
    assert(PdSnapshot.decodeStream(PdSnapshot.encodeStream(s)) == s)
    val r = PdRange(77L, 5L, 4, 1000L, 2500L, Seq(1, 3))
    assert(PdSnapshot.decodeRange(PdSnapshot.encodeRange(r)) == r)
    // open range: end = -1 (the fbs default) is OMITTED from the table
    val open = PdRange(77L, 6L, 5, 2500L, -1L, Seq.empty)
    val openBytes = PdSnapshot.encodeRange(open)
    assert(PdSnapshot.decodeRange(openBytes) == open)
    // a table built independently with the official builder (cross-check,
    // same posture as FlatRecordBatchSpec): all-default Stream decodes to
    // the fbs defaults
    val fbb = new com.google.flatbuffers.FlatBufferBuilder(16)
    fbb.startTable(4); fbb.finish(fbb.endTable())
    val d = PdSnapshot.decodeStream(fbb.sizedByteArray())
    assert(d == PdStream(-1L, 0, 0, 0L))
  }

  private def dumpDf(kvs: Seq[(String, Array[Byte])]) = {
    import spark.implicits._
    kvs.toDF("key", "value")
  }

  test("ingestPdSnapshot: config, boundaries, epochs, trim and id allocator land; noise ignored; orphans loud") {
    val cat = new EsCatalog(tmpDir("pd-cat-"))
    val kvs =
      PdSnapshot.renderStream(PdStream(7L, 2, 2, 86400000L), Seq(
        PdRange(7L, 1L, 0, 50L, 100L, Seq(1, 2)),
        PdRange(7L, 2L, 3, 100L, 220L, Seq(1)), // index GAP (dropped empty range)
        PdRange(7L, 3L, 4, 220L, -1L, Seq(2)))) ++
      PdSnapshot.renderStream(PdStream(9L, 1, 1, -1L), Seq.empty) ++
      Seq(
        PdSnapshot.rangeKey(11L, 0) ->
          PdSnapshot.encodeRange(PdRange(11L, 1L, 0, 0L, 10L, Seq.empty)),
        "cluster/id" -> "not-ours".getBytes("UTF-8"),
        "leases/123" -> Array[Byte](1, 2, 3))
    val rep = cat.ingestPdSnapshot(spark, dumpDf(kvs)).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rep.keySet == Set("pd-7", "pd-9", "pd-11"))
    val r7 = rep("pd-7")
    assert(r7.getLong(1) == 7L && r7.getInt(2) == 2 && r7.getInt(3) == 2)
    assert(r7.getLong(4) == 86400000L && r7.getLong(5) == 3L) // epoch = last range's
    assert(r7.getLong(6) == 50L && r7.getLong(7) == 220L)     // trim, next
    assert(r7.getLong(8) == 3L && r7.getString(9) == "OK")
    assert(rep("pd-9").getString(9) == "OK" && rep("pd-9").getLong(7) == 0L)
    assert(rep("pd-11").getString(9) == "ORPHAN_RANGES")
    assert(cat.getStream("pd-11").isEmpty, "orphan ranges must create nothing")

    val st7 = MetaLog.load(cat.streamDir("pd-7"))
    assert(st7.streamId == 7L && st7.replica == 2 && st7.retentionMs == 86400000L)
    assert(st7.startOffset == 50L && st7.nextOffset == 220L)
    assert(st7.segments.map(_.index) == Vector(0, 3, 4))
    assert(st7.segments.map(_.sealedEnd) == Vector(Some(100L), Some(220L), None))
    assert(st7.segments.map(_.epoch) == Vector(1L, 2L, 3L))

    // idempotent re-ingest: nothing changes, statuses say so
    val rep2 = cat.ingestPdSnapshot(spark, dumpDf(kvs)).collect()
    assert(rep2.filter(_.getString(9) == "ALREADY_EXISTS").map(_.getString(0)).toSet ==
      Set("pd-7", "pd-9"))
    assert(MetaLog.load(cat.streamDir("pd-7")).segments.size == 3)

    // the id allocator can never collide with an ingested id
    assert(cat.allocateId() >= 12L)
  }

  test("ingestPdSnapshot strips a deployment rootPath and fails fast past maxEntries") {
    val cat = new EsCatalog(tmpDir("pd-cat-root-"))
    val kvs = PdSnapshot.renderStream(PdStream(3L, 1, 1, -1L), Seq(
      PdRange(3L, 1L, 0, 0L, 10L, Seq.empty)))
      .map { case (k, v) => s"/pd/cluster-1/$k" -> v }
    val rep = cat.ingestPdSnapshot(spark, dumpDf(kvs), rootPath = "/pd/cluster-1")
      .collect()
    assert(rep.length == 1 && rep.head.getString(9) == "OK")
    assert(MetaLog.load(cat.streamDir("pd-3")).nextOffset == 10L)
    val e = intercept[IllegalArgumentException](
      cat.ingestPdSnapshot(spark, dumpDf(kvs), maxEntries = 1L))
    assert(e.getMessage.contains("maxEntries"))
  }

  /** A source stream of n single-record batches, base_offset == id. */
  private def sourceStream(n: Int): String = {
    val dir = tmpDir("pd-src-")
    EsLog.create(dir, streamId = 21L)
    EsLog.open(dir, 1L)
    val input = spark.range(n).select(
      col("id"),
      col("id").cast("string").cast("binary").as("payload"),
      (col("id") * 100).as("base_timestamp"))
    EsLog.append(spark, dir, input, 1L, sortKey = Some("id"), numPartitions = 3)
    dir
  }

  test("backfill: bucket objects land at ORIGINAL offsets inside imported boundaries; idempotent") {
    val src = sourceStream(300)
    val objs = EsLog.exportObjects(spark, src, maxObjectBytes = 4 * 1024,
      sparseBytes = 1024).select(col("obj"))
    // metadata first: trim at 60, sealed [60,150), open [150,...)
    val cat = new EsCatalog(tmpDir("pd-cat-bf-"))
    cat.ingestPdSnapshot(spark, dumpDf(
      PdSnapshot.renderStream(PdStream(21L, 1, 1, -1L), Seq(
        PdRange(21L, 1L, 0, 60L, 150L, Seq.empty),
        PdRange(21L, 2L, 1, 150L, -1L, Seq.empty)))))
    val dst = cat.streamDir("pd-21")
    val nBf = EsLog.backfill(spark, dst,
      spark.range(0).select(col("id").as("base_offset"),
        lit(null).cast("binary").as("payload")), 2L)
    assert(nBf == 0L, "empty input backfills nothing")
    val n = EsLog.backfillObjects(spark, dst, objs, 2L)
    assert(n == 240L, s"offsets 60..299 backfill (pre-trim 0..59 dropped), got $n")
    val st = MetaLog.load(dst)
    assert(st.startOffset == 60L && st.nextOffset == 300L)
    // files live inside their declared segments
    val seg0 = st.segments(0); val seg1 = st.segments(1)
    assert(seg0.files.nonEmpty && seg0.files.head.startOffset == 60L &&
      seg0.files.last.endOffset == 150L)
    assert(seg1.files.nonEmpty && seg1.files.head.startOffset == 150L &&
      seg1.files.last.endOffset == 300L)
    // payloads still address their ORIGINAL offsets
    val back = EsLog.scan(spark, dst)
      .select(col("base_offset"), col("payload").cast("string").cast("long").as("pid"))
    assert(back.count() == 240L)
    assert(back.where(col("base_offset") =!= col("pid")).count() == 0)
    assert(back.agg(min("base_offset"), max("base_offset")).collect().head
      .toSeq == Seq(60L, 299L))
    // idempotent re-run: everything already covered
    assert(EsLog.backfillObjects(spark, dst, objs, 2L) == 0L)
  }

  test("backfill rejects data beyond the last imported boundary and gapped sources") {
    val src = sourceStream(100)
    val objs = EsLog.exportObjects(spark, src, maxObjectBytes = 4 * 1024,
      sparseBytes = 1024).select(col("obj"))
    val cat = new EsCatalog(tmpDir("pd-cat-ob-"))
    cat.ingestPdSnapshot(spark, dumpDf(
      PdSnapshot.renderStream(PdStream(21L, 1, 1, -1L), Seq(
        PdRange(21L, 1L, 0, 0L, 80L, Seq.empty))))) // sealed, no open tail
    val dst = cat.streamDir("pd-21")
    val e = intercept[Exception](EsLog.backfillObjects(spark, dst, objs, 2L))
    assert(e.getMessage != null && e.getMessage.contains("beyond the last imported boundary"),
      s"got: ${e.getMessage}")
    // gapped source: drop the middle, keep boundaries needing [0,80)
    val gapped = EsLog.exportObjects(spark, src, maxObjectBytes = 256,
      sparseBytes = 128).where(col("start_offset") < 20 || col("start_offset") >= 40)
      .where(col("end_offset") <= 80)
      .select(col("obj"))
    val e2 = intercept[Exception](EsLog.backfillObjects(spark, dst, gapped, 2L))
    assert(e2.getMessage != null && (e2.getMessage.contains("gap") ||
      e2.getMessage.contains("starts at")), s"got: ${e2.getMessage}")
    // and the failed attempts left NOTHING behind
    assert(MetaLog.load(dst).allFiles.isEmpty)
  }

  test("ingestPdSnapshot: one stream's malformed ranges fail ITS row, not the batch") {
    val cat = new EsCatalog(tmpDir("pd-cat-err-"))
    val kvs =
      // stream 4: OVERLAPPING ranges — rejected by the ImportSegment chain
      PdSnapshot.renderStream(PdStream(4L, 1, 1, -1L), Seq(
        PdRange(4L, 1L, 0, 0L, 100L, Seq.empty),
        PdRange(4L, 2L, 1, 50L, 150L, Seq.empty))) ++
      PdSnapshot.renderStream(PdStream(5L, 1, 1, -1L), Seq(
        PdRange(5L, 1L, 0, 0L, 10L, Seq.empty)))
    val rep = cat.ingestPdSnapshot(spark, dumpDf(kvs)).collect()
      .map(r => r.getString(0) -> r.getString(9)).toMap
    assert(rep("pd-4").startsWith("ERROR:"), s"got ${rep("pd-4")}")
    assert(rep("pd-5") == "OK")
    assert(MetaLog.load(cat.streamDir("pd-5")).nextOffset == 10L)
    // the failed stream imported NO segments (per-stream commit is atomic)
    assert(MetaLog.load(cat.streamDir("pd-4")).segments.isEmpty)
  }

  test("backfillWal: WAL segments land at original offsets under imported boundaries") {
    val src = sourceStream(200)
    val segs = EsLog.exportWal(spark, src, segmentBytes = 8 * 1024, blockSize = 512)
      .select(col("wal_offset"), col("seg"))
    val cat = new EsCatalog(tmpDir("pd-cat-wal-"))
    cat.ingestPdSnapshot(spark, dumpDf(
      PdSnapshot.renderStream(PdStream(21L, 1, 1, -1L), Seq(
        PdRange(21L, 1L, 0, 40L, 120L, Seq.empty),
        PdRange(21L, 2L, 1, 120L, -1L, Seq.empty)))))
    val dst = cat.streamDir("pd-21")
    assert(EsLog.backfillWal(spark, dst, segs, 2L) == 160L)
    val st = MetaLog.load(dst)
    assert(st.startOffset == 40L && st.nextOffset == 200L)
    val back = EsLog.scan(spark, dst)
      .select(col("base_offset"), col("payload").cast("string").cast("long").as("pid"))
    assert(back.where(col("base_offset") =!= col("pid")).count() == 0)
    assert(EsLog.backfillWal(spark, dst, segs, 2L) == 0L) // idempotent
  }

  test("backfill rejects CROSS-segment holes; prefix-ordered incremental imports stay legal") {
    val src = sourceStream(200)
    val cat = new EsCatalog(tmpDir("pd-cat-hole-"))
    cat.ingestPdSnapshot(spark, dumpDf(
      PdSnapshot.renderStream(PdStream(21L, 1, 1, -1L), Seq(
        PdRange(21L, 1L, 0, 0L, 100L, Seq.empty),
        PdRange(21L, 2L, 1, 100L, -1L, Seq.empty)))))
    val dst = cat.streamDir("pd-21")
    // data ONLY for the later segment while seg0 is uncovered → rejected,
    // and the failed attempt leaves nothing behind
    val late = EsLog.exportObjects(spark, src, start = 100L,
      maxObjectBytes = 1024, sparseBytes = 512).select(col("obj"))
    val e = intercept[Exception](EsLog.backfillObjects(spark, dst, late, 2L))
    assert(e.getMessage != null && e.getMessage.contains("hole"), s"got: ${e.getMessage}")
    assert(MetaLog.load(dst).allFiles.isEmpty)
    // prefix-ordered increments are fine: seg0 fully, then the tail
    val early = EsLog.exportObjects(spark, src, end = 100L,
      maxObjectBytes = 1024, sparseBytes = 512).select(col("obj"))
    assert(EsLog.backfillObjects(spark, dst, early, 2L) == 100L)
    assert(EsLog.backfillObjects(spark, dst, late, 2L) == 100L)
    assert(MetaLog.load(dst).nextOffset == 200L)
  }

  test("backfill: heavy rows that disagree with statsInput abort at the commit audit, leaving nothing") {
    val cat = new EsCatalog(tmpDir("pd-cat-audit-"))
    cat.ingestPdSnapshot(spark, dumpDf(
      PdSnapshot.renderStream(PdStream(21L, 1, 1, -1L), Seq(
        PdRange(21L, 1L, 0, 0L, 10L, Seq.empty)))))
    val dst = cat.streamDir("pd-21")
    val before = MetaLog.load(dst)
    // the light rows list offsets 0..9 once: every light check passes; the
    // heavy rows repeat offset 5
    val light = spark.range(10).select(col("id").as("base_offset"),
      lit(1).as("last_offset_delta"), (col("id") * 100).as("base_timestamp"))
    val heavy = spark.range(10).union(spark.range(5, 6)).select(col("id").as("base_offset"),
      col("id").cast("string").cast("binary").as("payload"),
      (col("id") * 100).as("base_timestamp"))
    val e = intercept[Exception](EsLog.backfill(spark, dst, heavy, 2L, statsInput = Some(light)))
    assert(!e.isInstanceOf[graft.meta.OutOfOrderException], s"got: $e")
    assert(e.isInstanceOf[IllegalStateException] && e.getMessage.contains("commit aborted"),
      s"got: $e")
    assert(MetaLog.load(dst) == before)
    val left = java.nio.file.Paths.get(dst, "backfill")
    if (java.nio.file.Files.exists(left)) {
      val files = java.nio.file.Files.walk(left)
      try assert(!files.anyMatch(p => java.nio.file.Files.isRegularFile(p)), s"files left under $left")
      finally files.close()
    }
  }

  test("ingestPdSnapshot: an undecodable value fails its own row; resume after a metadata-only stream") {
    val cat = new EsCatalog(tmpDir("pd-cat-dec-"))
    val good = PdSnapshot.renderStream(PdStream(8L, 1, 1, -1L), Seq(
      PdRange(8L, 1L, 0, 0L, 20L, Seq.empty)))
    val corruptStream = Seq(
      PdSnapshot.streamKey(6L) -> Array.fill[Byte](40)(0x41)) // garbage value
    val corruptRange = Seq(
      PdSnapshot.streamKey(12L) -> PdSnapshot.encodeStream(PdStream(12L, 1, 1, -1L)),
      PdSnapshot.rangeKey(12L, 0) -> Array.fill[Byte](12)(0x17))
    val rep = cat.ingestPdSnapshot(spark, dumpDf(good ++ corruptStream ++ corruptRange))
      .collect().map(r => r.getString(0) -> r.getString(9)).toMap
    assert(rep("pd-8") == "OK")
    assert(rep("pd-6").startsWith("ERROR: undecodable stream"), rep("pd-6"))
    assert(rep("pd-12").startsWith("ERROR: undecodable range"), rep("pd-12"))
    assert(cat.getStream("pd-6").isEmpty && cat.getStream("pd-12").isEmpty)

    // resume: a stream REGISTERED but (crash) without segments imports its
    // boundaries on re-ingest instead of reporting ALREADY_EXISTS forever
    cat.createStreamIfAbsent("pd-9", withId = Some(9L))
    val rep2 = cat.ingestPdSnapshot(spark, dumpDf(
      PdSnapshot.renderStream(PdStream(9L, 1, 1, -1L), Seq(
        PdRange(9L, 1L, 0, 0L, 50L, Seq.empty)))))
      .collect().map(r => r.getString(0) -> r.getString(9)).toMap
    assert(rep2("pd-9") == "OK")
    assert(MetaLog.load(cat.streamDir("pd-9")).nextOffset == 50L)
    // id mismatch between registry and dump reports, never corrupts
    cat.createStreamIfAbsent("pd-77", withId = Some(1077L))
    val rep3 = cat.ingestPdSnapshot(spark, dumpDf(
      PdSnapshot.renderStream(PdStream(77L, 1, 1, -1L), Seq.empty)),
      namePrefix = "pd-")
    assert(rep3.collect().head.getString(9).startsWith("ERROR: name 'pd-77' already maps"))
  }

  test("exportPdSnapshot round-trips a catalog's metadata into a fresh catalog") {
    val catA = new EsCatalog(tmpDir("pd-cat-a-"))
    catA.ingestPdSnapshot(spark, dumpDf(
      PdSnapshot.renderStream(PdStream(5L, 2, 1, 3600000L), Seq(
        PdRange(5L, 1L, 0, 10L, 90L, Seq.empty),
        PdRange(5L, 2L, 1, 90L, -1L, Seq.empty))) ++
      PdSnapshot.renderStream(PdStream(6L, 1, 1, -1L), Seq.empty)))
    val dump = catA.exportPdSnapshot(spark)
    // exact PD key layout
    val keys = dump.select("key").collect().map(_.getString(0)).toSet
    assert(keys.contains("streams/00000000000000000005"))
    assert(keys.contains("s/00000000000000000005/ranges/00000000000"))
    val catB = new EsCatalog(tmpDir("pd-cat-b-"))
    val rep = catB.ingestPdSnapshot(spark, dump).collect()
    assert(rep.forall(_.getString(9) == "OK"))
    val a = MetaLog.load(catA.streamDir("pd-5"))
    val b = MetaLog.load(catB.streamDir("pd-5"))
    assert(b.streamId == a.streamId && b.replica == a.replica &&
      b.retentionMs == a.retentionMs && b.startOffset == a.startOffset &&
      b.nextOffset == a.nextOffset)
    assert(b.segments.map(s => (s.index, s.start, s.sealedEnd, s.epoch)) ==
      a.segments.map(s => (s.index, s.start, s.sealedEnd, s.epoch)))
  }
}
