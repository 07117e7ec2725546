package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

import graft.meta._

/** Invariant tests ported from the reference's own unit tests:
  * window contiguity (window.rs:254-301), range contains (range/mod.rs:203-232),
  * seal idempotence (replication_range.rs:313-316), epoch fencing, trim.
  */
class MetaLogSpec extends AnyFunSuite with TempDirs {

  private def tmp(): String = tmpDir("eslog-test-")

  /** A store that counts the reads, existence checks and listings made
    * through it. */
  private final class CountingLogStore(inner: LogStore) extends LogStore {
    val reads = new java.util.concurrent.atomic.AtomicLong()
    val existChecks = new java.util.concurrent.atomic.AtomicLong()
    val lists = new java.util.concurrent.atomic.AtomicLong()
    def snapshot(): (Long, Long, Long) = (reads.get, existChecks.get, lists.get)
    override def read(p: String) = { reads.incrementAndGet(); inner.read(p) }
    override def exists(p: String) = { existChecks.incrementAndGet(); inner.exists(p) }
    override def isDir(p: String) = inner.isDir(p)
    override def list(d: String) = { lists.incrementAndGet(); inner.list(d) }
    override def putIfAbsent(p: String, b: Array[Byte]) = inner.putIfAbsent(p, b)
    override def putAtomic(p: String, b: Array[Byte]): Unit = inner.putAtomic(p, b)
    override def mkdirs(p: String): Unit = inner.mkdirs(p)
    override def delete(p: String): Unit = inner.delete(p)
  }

  private def fm(start: Long, end: Long, path: String = "f"): FileMeta =
    FileMeta(s"$path-$start", end - start, 100L, start, end, 0L, 0L)

  test("create / open / segment / commit / seal lifecycle") {
    val dir = tmp()
    var st = EsLogTestOps.createAndOpen(dir)
    st = MetaLog.commit(dir, st, Seq(OpenSegment(0, 0L, 1L)))
    st = MetaLog.commit(dir, st, Seq(CommitFiles(0, 1L, Seq(fm(0, 10)))))
    st = MetaLog.commit(dir, st, Seq(CommitFiles(0, 1L, Seq(fm(10, 25)))))
    assert(st.nextOffset == 25)
    st = MetaLog.commit(dir, st, Seq(SealSegment(0, 25L, 1L)))
    assert(st.segments.head.sealed_)
    // reload from disk gives identical state
    assert(MetaLog.load(dir) == st)
  }

  test("window contiguity: gap and overlap rejected, exact retry is Committed") {
    val dir = tmp()
    var st = EsLogTestOps.createAndOpen(dir)
    st = MetaLog.commit(dir, st, Seq(OpenSegment(0, 0L, 1L)))
    st = MetaLog.commit(dir, st, Seq(CommitFiles(0, 1L, Seq(fm(0, 10)))))
    // gap (OutOfOrder, window.rs: offset > next)
    assertThrows[OutOfOrderException](
      StreamState.apply(st, CommitFiles(0, 1L, Seq(fm(15, 20))), 99))
    // full retry of committed span (Committed — idempotent signal)
    assertThrows[CommittedException](
      StreamState.apply(st, CommitFiles(0, 1L, Seq(fm(0, 10))), 99))
    // partial overlap (Inflight-ish: starts below confirmed but extends past)
    assertThrows[OutOfOrderException](
      StreamState.apply(st, CommitFiles(0, 1L, Seq(fm(5, 15))), 99))
    // internal gap inside one commit
    assertThrows[OutOfOrderException](
      StreamState.apply(st, CommitFiles(0, 1L, Seq(fm(10, 12), fm(14, 16))), 99))
    // contiguous multi-file commit OK
    val ok = StreamState.apply(st, CommitFiles(0, 1L, Seq(fm(12, 16), fm(10, 12))), 99)
    assert(ok.nextOffset == 16)
  }

  test("segment contains: sealed [0,10) and open [10,∞) (range/mod.rs:219-231)") {
    val s0 = SegmentState(0, 0L, 1L, Some(10L), Vector(fm(0, 10)))
    assert(s0.contains(0) && s0.contains(9) && !s0.contains(10) && !s0.contains(11))
    val s1 = SegmentState(1, 10L, 1L, None, Vector.empty)
    assert(s1.contains(10) && s1.contains(1000000) && !s1.contains(9))
  }

  test("seal idempotence; reseal with different end rejected") {
    val dir = tmp()
    var st = EsLogTestOps.createAndOpen(dir)
    st = MetaLog.commit(dir, st, Seq(OpenSegment(0, 0L, 1L), CommitFiles(0, 1L, Seq(fm(0, 10)))))
    st = MetaLog.commit(dir, st, Seq(SealSegment(0, 10L, 1L)))
    val again = StreamState.apply(st, SealSegment(0, 10L, 1L), 99)
    assert(again.segments.head.sealedEnd.contains(10L))
    assertThrows[IllegalArgumentException](
      StreamState.apply(st, SealSegment(0, 12L, 1L), 99))
  }

  test("epoch fencing: stale writer rejected, open seals the open segment") {
    val dir = tmp()
    var st = EsLogTestOps.createAndOpen(dir) // epoch 1
    st = MetaLog.commit(dir, st, Seq(OpenSegment(0, 0L, 1L), CommitFiles(0, 1L, Seq(fm(0, 7)))))
    // a new writer opens with epoch 2: seal-on-open recovery
    st = MetaLog.commit(dir, st, Seq(OpenStream(2L)))
    assert(st.epoch == 2 && st.segments.head.sealedEnd.contains(7L))
    assert(st.nextOffset == 7)
    // the old epoch-1 writer is fenced on commit and on re-open
    assertThrows[FencedException](
      StreamState.apply(st, CommitFiles(0, 1L, Seq(fm(7, 9))), 99))
    assertThrows[FencedException](StreamState.apply(st, OpenStream(1L), 99))
    // new segment continues at the sealed end under the new epoch
    st = MetaLog.commit(dir, st, Seq(OpenSegment(1, 7L, 2L), CommitFiles(1, 2L, Seq(fm(7, 12)))))
    assert(st.nextOffset == 12)
  }

  test("segment chain invariants: index+1 and start=prev.end (range.go:188-240)") {
    val dir = tmp()
    var st = EsLogTestOps.createAndOpen(dir)
    st = MetaLog.commit(dir, st, Seq(OpenSegment(0, 0L, 1L), CommitFiles(0, 1L, Seq(fm(0, 5)))))
    // cannot open a new segment while one is open
    assertThrows[SealedException](StreamState.apply(st, OpenSegment(1, 5L, 1L), 99))
    st = MetaLog.commit(dir, st, Seq(SealSegment(0, 5L, 1L)))
    assertThrows[IllegalArgumentException](StreamState.apply(st, OpenSegment(2, 5L, 1L), 99))
    assertThrows[IllegalArgumentException](StreamState.apply(st, OpenSegment(1, 6L, 1L), 99))
    st = MetaLog.commit(dir, st, Seq(OpenSegment(1, 5L, 1L)))
    assert(st.openSegment.map(_.index).contains(1))
  }

  test("trim drops covered files, keeps straddlers, start advances") {
    val dir = tmp()
    var st = EsLogTestOps.createAndOpen(dir)
    st = MetaLog.commit(dir, st, Seq(OpenSegment(0, 0L, 1L),
      CommitFiles(0, 1L, Seq(fm(0, 10), fm(10, 20), fm(20, 30)))))
    st = MetaLog.commit(dir, st, Seq(Trim(15L)))
    assert(st.startOffset == 15)
    assert(st.allFiles.map(f => (f.startOffset, f.endOffset)) == Seq((10L, 20L), (20L, 30L)))
    assert(st.nextOffset == 30)
    // trim below current start is invalid
    assertThrows[IllegalArgumentException](StreamState.apply(st, Trim(3L), 99))
    // filesInRange respects trim via caller clamp
    assert(st.filesInRange(st.startOffset, st.nextOffset).size == 2)
  }

  test("CAS: second writer of the same version loses") {
    val dir = tmp()
    val st = EsLogTestOps.createAndOpen(dir)
    val a = MetaLog.commit(dir, st, Seq(OpenSegment(0, 0L, 1L)))
    assertThrows[ConcurrentCommitException](
      MetaLog.commit(dir, st, Seq(OpenSegment(0, 0L, 1L))))
    assert(MetaLog.load(dir) == a)
  }

  test("kv put/get/del fold") {
    val dir = tmp()
    var st = EsLogTestOps.createAndOpen(dir)
    st = MetaLog.commit(dir, st, Seq(KvPut("k1", "v1"), KvPut("k2", "v2")))
    assert(st.kv == Map("k1" -> "v1", "k2" -> "v2"))
    st = MetaLog.commit(dir, st, Seq(KvDel("k1"), KvPut("k2", "v2b")))
    assert(st.kv == Map("k2" -> "v2b"))
    assert(MetaLog.load(dir).kv == Map("k2" -> "v2b"))
  }

  test("checkpoint: 1000-commit log loads from checkpoint + <=10 deltas") {
    val dir = tmp()
    var st = EsLogTestOps.createAndOpen(dir)
    (0 until 1000).foreach { i =>
      st = MetaLog.commit(dir, st, Seq(KvPut(s"k${i % 50}", s"v$i")))
    }
    // checkpoints exist and the pointer names the newest one
    val ckpts = Files.list(java.nio.file.Paths.get(MetaLog.logDir(dir))).iterator()
    val names = new scala.collection.mutable.ArrayBuffer[String]
    while (ckpts.hasNext) names += ckpts.next().getFileName.toString
    assert(names.exists(_.contains(".checkpoint")), "no checkpoint file written")
    assert(names.contains("_last_checkpoint"))
    // state from checkpointed load == full fold semantics
    val loaded = MetaLog.load(dir)
    assert(loaded == st)
    assert(loaded.kv.size == 50 && loaded.kv("k49") == "v999")
    // loading must not read older delta files: delete all version files at or
    // below the checkpoint; load still succeeds and matches
    val ptr = new String(Files.readAllBytes(java.nio.file.Paths
      .get(MetaLog.logDir(dir), "_last_checkpoint"))).trim.toLong
    names.filter(n => n.endsWith(".json") && !n.contains(".checkpoint") && !n.startsWith("_"))
      .map(n => (n, n.stripSuffix(".json").toLong))
      .filter(_._2 <= ptr)
      .foreach { case (n, _) => Files.delete(java.nio.file.Paths.get(MetaLog.logDir(dir), n)) }
    assert(MetaLog.load(dir) == st)
  }

  test("checkpoint state json roundtrips a rich state") {
    val st = StreamState(7L, 3, 2, 86400000L, 5L, 100L,
      Vector(
        SegmentState(0, 0L, 1L, Some(120L), Vector(fm(100, 120).copy(maxDelta = 4))),
        SegmentState(1, 120L, 5L, None, Vector(fm(120, 140)))),
      Map("a" -> "1", "b" -> "2"), deleted = false, version = 42L)
    assert(MetaLog.stateFromJson(MetaLog.stateToJson(st)) == st)
  }

  test("fileMeta maxDelta defaults conservatively when absent in old logs") {
    val json = MetaLog.actionToJson(CommitFiles(0, 1L, Seq(fm(0, 10))))
    val files = json.get("files")
    files.get(0).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].remove("maxDelta")
    val decoded = MetaLog.actionFromJson(json).asInstanceOf[CommitFiles]
    assert(decoded.files.head.maxDelta == 10) // whole span = safest bound
  }

  test("all log IO flows through the LogStore seam; CAS contract holds") {
    // instrumented store: counts every call, delegates to the FS impl
    class CountingStore extends LogStore {
      val calls = new java.util.concurrent.atomic.AtomicLong
      private def c[A](a: => A): A = { calls.incrementAndGet(); a }
      def read(p: String) = c(FsLogStore.read(p))
      def exists(p: String) = c(FsLogStore.exists(p))
      def isDir(p: String) = c(FsLogStore.isDir(p))
      def list(d: String) = c(FsLogStore.list(d))
      def putIfAbsent(p: String, b: Array[Byte]) = c(FsLogStore.putIfAbsent(p, b))
      def putAtomic(p: String, b: Array[Byte]) = c(FsLogStore.putAtomic(p, b))
      def mkdirs(p: String) = c(FsLogStore.mkdirs(p))
      def delete(p: String) = c(FsLogStore.delete(p))
    }
    val counting = new CountingStore
    val prev = MetaLog.store
    MetaLog.store = counting
    try {
      val dir = tmp()
      var st = EsLogTestOps.createAndOpen(dir)
      st = MetaLog.commit(dir, st, Seq(OpenSegment(0, 0L, 1L)))
      st = MetaLog.commit(dir, st, Seq(CommitFiles(0, 1L, Seq(fm(0, 10)))))
      assert(MetaLog.load(dir) == st)
      assert(counting.calls.get() > 0, "log IO bypassed the LogStore seam")
      // CAS: a second writer of the same version must lose, exactly like the
      // conditional-PUT contract requires
      assertThrows[ConcurrentCommitException](
        MetaLog.commit(dir, st.copy(version = st.version - 1), Seq(KvPut("x", "y"))))
      // direct contract check on the primitive
      val p = MetaLog.join(dir, "cas-probe")
      assert(counting.putIfAbsent(p, "a".getBytes))
      assert(!counting.putIfAbsent(p, "b".getBytes))
      assert(new String(counting.read(p)) == "a")
    } finally MetaLog.store = prev
  }

  test("checkpoint retention: at most two snapshots survive, load unaffected") {
    val dir = tmp()
    var st = EsLogTestOps.createAndOpen(dir)
    (0 until 45).foreach { i => st = MetaLog.commit(dir, st, Seq(KvPut(s"k$i", "v"))) }
    val ckpts = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(java.nio.file.Paths.get(MetaLog.logDir(dir)))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".checkpoint.json")).toSeq.sorted
      finally s.close()
    }
    // 46 commits -> checkpoints at v10/20/30/40; only the newest two remain
    assert(ckpts.size == 2, ckpts.toString)
    assert(ckpts.last.startsWith("00000000000000000040"), ckpts.toString)
    assert(MetaLog.load(dir) == st)
    assert(MetaLog.load(dir).kv.size == 45)
  }

  test("concurrent committers linearize: every commit lands exactly once") {
    val dir = tmp()
    EsLogTestOps.createAndOpen(dir) // v0, v1
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val writers = (0 until 8).map { w => Future {
      (0 until 10).foreach { i =>
        MetaLog.commitWithRetry(dir, maxAttempts = 200) { _ => Seq(KvPut(s"w$w-$i", "x")) }
      }
    }}
    Await.result(Future.sequence(writers), 2.minutes)
    val st = MetaLog.load(dir)
    // all 80 puts present, one commit each: versions are exactly 0..81
    assert(st.kv.size == 80, st.kv.size.toString)
    assert(st.version == 81L, st.version.toString)
    assert(MetaLog.actionsSince(dir, 1L).map(_._2.size).sum == 80)
  }

  test("store routing: prefix match routes the log, longest prefix wins") {
    val mem = new InMemoryObjectStore
    MetaLog.route("/mem/route", new ObjectLogStore(mem))
    try {
      MetaLog.commit("/mem/route/s1", StreamState.empty, Seq(CreateStream(9L, 1, 1, -1L)))
      assert(mem.head("mem/route/s1/_eslog/00000000000000000000.json"))
      assert(MetaLog.load("/mem/route/s1").streamId == 9L)
      // non-matching dirs keep the default FS store
      val fsDir = tmp()
      MetaLog.commit(fsDir, StreamState.empty, Seq(CreateStream(10L, 1, 1, -1L)))
      assert(Files.isDirectory(java.nio.file.Paths.get(MetaLog.logDir(fsDir))))
      // longest registered prefix wins
      val mem2 = new InMemoryObjectStore
      MetaLog.route("/mem/route/nested", new ObjectLogStore(mem2))
      try {
        MetaLog.commit("/mem/route/nested/s2", StreamState.empty,
          Seq(CreateStream(11L, 1, 1, -1L)))
        assert(mem2.head("mem/route/nested/s2/_eslog/00000000000000000000.json"))
        assert(!mem.head("mem/route/nested/s2/_eslog/00000000000000000000.json"))
      } finally MetaLog.unroute("/mem/route/nested")
    } finally MetaLog.unroute("/mem/route")
  }

  test("commit churn: load cost is O(checkpoint + tail), flat across 10x log growth") {
    // SURVEY §7 hard part (e): the manifest must stay O(segments) —
    // checkpoint + tail — no matter how many commits the stream has seen.
    // Drive one stream's log through 10^3 then 10^4 commits and pin the
    // EXACT per-load store-op counts equal at both sizes (op counts, not
    // wall time: deterministic on any host). This is what the probe-forward
    // load guarantees; a listing-based load would scale its cost with the
    // directory size and fail the equality.
    val dir = tmpDir("metalog-churn-")
    val counting = new CountingLogStore(FsLogStore)
    MetaLog.route(dir, counting)
    try {
      var st = EsLogTestOps.createAndOpen(dir)
      var i = 0
      def churn(until: Int): Unit = while (i < until) {
        // cheapest real commit: a KV put (state size stays constant, so
        // only the LOG LENGTH grows — exactly the variable under test)
        st = MetaLog.commit(dir, st, Seq(KvPut("cursor", i.toString)))
        i += 1
      }
      def opsPerLoad(): (Long, Long, Long) = {
        val before = counting.snapshot()
        val loaded = MetaLog.load(dir)
        assert(loaded.version == st.version, "load must see the head")
        val after = counting.snapshot()
        (after._1 - before._1, after._2 - before._2, after._3 - before._3)
      }
      churn(1000)
      val at1k = opsPerLoad()
      churn(10000)
      val at10k = opsPerLoad()
      assert(at1k == at10k,
        s"load op-counts must be flat across 10x commit growth: $at1k vs $at10k")
      // 2 = _last_checkpoint pointer + checkpoint (the gap backstop reuses
      // the pointer value from that same read — zero extra ops)
      assert(at10k._1 <= 2 + MetaLog.CheckpointInterval,
        s"reads per load must be bounded by checkpoint + tail: $at10k")
      assert(at10k._3 == 0, s"load must not list the log directory: $at10k")
      // and the state survived: the last put is visible, version is the head
      assert(MetaLog.load(dir).kv("cursor") == "9999")
    } finally MetaLog.unroute(dir)
  }

  test("latestVersion probes from the checkpoint: no listing, op-counts flat across log growth") {
    // a watch source asks for the latest version on every trigger, so its
    // cost must not grow with the log: pointer read + tail probe only
    val dir = tmpDir("metalog-latest-")
    assert(MetaLog.latestVersion(dir) == -1L, "no log yet")
    val counting = new CountingLogStore(FsLogStore)
    MetaLog.route(dir, counting)
    try {
      var st = EsLogTestOps.createAndOpen(dir)
      def churn(n: Int): Unit = (0 until n).foreach { i =>
        st = MetaLog.commit(dir, st, Seq(KvPut("cursor", i.toString)))
      }
      def opsPerCall(): (Long, Long, Long) = {
        val before = counting.snapshot()
        assert(MetaLog.latestVersion(dir) == st.version, "latestVersion must see the head")
        val after = counting.snapshot()
        (after._1 - before._1, after._2 - before._2, after._3 - before._3)
      }
      assert(opsPerCall()._3 == 0)
      churn(1007)
      val small = opsPerCall()
      churn(3000)
      val large = opsPerCall()
      assert(small == large, s"op-counts must be flat across log growth: $small vs $large")
      assert(large._3 == 0, s"latestVersion must not list the log directory: $large")
      // the pointer's existence check + read, then one check per tail version
      assert(large._1 == 1 && large._2 <= 2 + MetaLog.CheckpointInterval, large.toString)
    } finally MetaLog.unroute(dir)
  }

  test("load refuses a truncated state when a mid-log gap sits below a checkpoint") {
    // The probe-forward load's contiguity contract: "first missing version =
    // log tail". A version file missing MID-LOG (interrupted external copy,
    // manual deletion) with surviving checkpoints above it would otherwise
    // fold to a silently TRUNCATED state; the pointer backstop must refuse.
    val dir = tmpDir("metalog-gap-")
    var st = EsLogTestOps.createAndOpen(dir)
    (0 until 25).foreach { i =>
      st = MetaLog.commit(dir, st, Seq(KvPut("cursor", i.toString)))
    }
    val logDir = java.nio.file.Paths.get(MetaLog.logDir(dir))
    // simulate the interrupted copy: the checkpoint FILES are gone (so the
    // fold starts from version 0) and one mid-log delta is gone too
    locally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(logDir).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".checkpoint.json"))
        .toList.foreach(p => java.nio.file.Files.delete(p))
    }
    java.nio.file.Files.delete(logDir.resolve(f"${5L}%020d.json"))
    val e = intercept[IllegalStateException](MetaLog.load(dir))
    assert(e.getMessage.contains("metadata log gap"), e.getMessage)
    // a checkpoint file CORRUPTED (not deleted) by the interrupted copy must
    // trigger the same refusal: the pointer read survives the parse failure
    // (nested best-efforts in readLastCheckpointWithPointer), so the
    // backstop still sees the pointer above the truncated fold
    val dirC = tmpDir("metalog-gap-corrupt-")
    var stC = EsLogTestOps.createAndOpen(dirC)
    (0 until 25).foreach { i =>
      stC = MetaLog.commit(dirC, stC, Seq(KvPut("cursor", i.toString)))
    }
    val logDirC = java.nio.file.Paths.get(MetaLog.logDir(dirC))
    locally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(logDirC).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".checkpoint.json"))
        .toList.foreach(p => java.nio.file.Files.write(p, "{trunc".getBytes))
    }
    java.nio.file.Files.delete(logDirC.resolve(f"${5L}%020d.json"))
    val eC = intercept[IllegalStateException](MetaLog.load(dirC))
    assert(eC.getMessage.contains("metadata log gap"), eC.getMessage)
    // whereas a clean tail (no gap, pointer at or below the fold) loads fine,
    // and a corrupted checkpoint WITHOUT a gap just folds from zero:
    val dir2 = tmpDir("metalog-nogap-")
    var st2 = EsLogTestOps.createAndOpen(dir2)
    (0 until 25).foreach { i =>
      st2 = MetaLog.commit(dir2, st2, Seq(KvPut("cursor", i.toString)))
    }
    assert(MetaLog.load(dir2).kv("cursor") == "24")
    locally {
      import scala.jdk.CollectionConverters._
      val ld = java.nio.file.Paths.get(MetaLog.logDir(dir2))
      java.nio.file.Files.list(ld).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".checkpoint.json"))
        .toList.foreach(p => java.nio.file.Files.write(p, "{trunc".getBytes))
    }
    assert(MetaLog.load(dir2).kv("cursor") == "24",
      "corrupt checkpoint with intact deltas must fold from zero, not refuse")
  }

  test("json action codec roundtrips every action type") {
    val actions: Seq[Action] = Seq(
      CreateStream(7, 3, 2, 86400000L), OpenStream(5),
      OpenSegment(2, 100, 5), CommitFiles(2, 5, Seq(fm(100, 110, "data/x"))),
      SealSegment(2, 110, 5), Trim(105), UpdateStream(Some(2), None, Some(1L)),
      ReplaceFiles(2, Seq("data/x", "data/y"), Seq(fm(100, 110, "data/z"))),
      DeleteStream(), KvPut("a", "b"), KvDel("a"),
      KvDelRange("a", Some("b")), KvDelRange("a", None))
    actions.foreach { a =>
      assert(MetaLog.actionFromJson(MetaLog.actionToJson(a)) == a)
    }
  }
}

object EsLogTestOps {
  def createAndOpen(dir: String): StreamState = {
    val st = MetaLog.commit(dir, StreamState.empty, Seq(CreateStream(1L, 1, 1, -1L)))
    MetaLog.commit(dir, st, Seq(OpenStream(1L)))
  }
}
