package graft

import graft.eslog.EsCatalog
import graft.meta._

/** [[ObjectStore]] wrapper adding a fixed per-operation latency — the
  * object-store regime (every GET/HEAD/LIST/PUT is a ~ms network round
  * trip), where the catalog's parallel-sweep claim actually lives. */
final class LatencyStore(inner: InMemoryObjectStore, nanos: Long) extends ObjectStore {
  private def lag(): Unit = java.util.concurrent.locks.LockSupport.parkNanos(nanos)
  override def get(key: String): Option[Array[Byte]] = { lag(); inner.get(key) }
  override def head(key: String): Boolean = { lag(); inner.head(key) }
  override def putIfNoneMatch(key: String, bytes: Array[Byte]): Boolean = {
    lag(); inner.putIfNoneMatch(key, bytes)
  }
  override def put(key: String, bytes: Array[Byte]): Unit = { lag(); inner.put(key, bytes) }
  override def listChildren(prefix: String): Seq[String] = { lag(); inner.listChildren(prefix) }
  override def delete(key: String): Unit = { lag(); inner.delete(key) }
}

/** The catalog's 10⁴-stream claim, measured in the regime it is ABOUT: with
  * per-op latency (an object store's ms round trips), [[EsCatalog.listStreams]]'s
  * bounded-parallel sweep must approach sum/threads, not the serial sum of
  * 10k independent log loads. (On a warm local FS a load is ~40µs of
  * syscalls and this container serializes them — parallel ≈ serial there,
  * measured while building this spec; that regime needs no parallelism,
  * 10k loads cost 0.4 s flat.) Setup registers 10,000 streams through the
  * same log commits `createStream` makes, batched.
  */
class EsCatalogScaleSpec extends SparkTestBase {

  private val N = 10000
  private val Sample = 400
  private val OpNanos = 1000000L // 1 ms per store op

  test(s"listStreams at $N streams: sweep wall-clock ~ sum/threads under per-op latency") {
    val store = new ObjectLogStore(new LatencyStore(new InMemoryObjectStore, OpNanos))
    // a real (empty) temp dir as the root path; all metadata-log IO under it
    // routes to the latency-injected object store
    val root = tmpDir("cat-scale-") + "/cat"
    MetaLog.route(root, store)
    try {
      val cat = new EsCatalog(root)
      // register N streams in batched commits (the registry createStream
      // builds, without 10k serial CAS round trips of setup time)
      var st = MetaLog.load(root)
      (0 until N).grouped(500).foreach { batch =>
        st = MetaLog.commit(root, st,
          batch.map(i => KvPut(f"stream.s$i%05d", i.toString)))
      }
      // each stream's own log: one commit creating the stream AND one
      // committed 64-row file (metadata only — scanAll is timed at the PLAN,
      // never executed, so the parquet bytes need not exist), in parallel
      locally {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration._
        val pool = java.util.concurrent.Executors.newFixedThreadPool(32)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
        try Await.result(Future.traverse((0 until N).grouped(100).toList) { c =>
          Future {
            c.foreach { i =>
              MetaLog.commit(cat.streamDir(f"s$i%05d"), StreamState.empty,
                Seq(CreateStream(i.toLong, 1, 1, -1L),
                  OpenSegment(0, 0L, 0L),
                  CommitFiles(0, 0L,
                    Seq(FileMeta("f0.parquet", 64L, 65536L, 0L, 64L, 0L, 64000L)))))
            }
          }
        }, 5.minutes)
        finally pool.shutdown()
      }

      // the registry itself loads O(1): newest checkpoint + <= interval
      // deltas — a handful of store ops, never a fold over all commits
      val t0 = System.nanoTime()
      val reg = MetaLog.load(root)
      val regLoadMs = (System.nanoTime() - t0) / 1e6
      assert(reg.kv.size == N)
      assert(regLoadMs < 2000, f"registry load took $regLoadMs%.0f ms")

      // size the registry checkpoint at this scale and record where the
      // multipart threshold actually engages: ~30 B/stream puts 10⁴ streams
      // around 300 KB (single PUT) and the 16 MiB multipart default around
      // ~5×10⁵ streams — the multipart path is for THAT regime plus large
      // KV payloads, not this one
      val cpBytes = graft.meta.MetaLog.stateToJsonBytes(reg)
      info(f"registry checkpoint at N=$N: ${cpBytes / 1024} KiB (~${cpBytes / N} B/stream)")
      assert(cpBytes > N * 10L && cpBytes < 16L * 1024 * 1024,
        s"checkpoint unexpectedly sized: $cpBytes B")

      // serial cost, measured over a sample and extrapolated: each load is
      // a fixed number of latency-bound ops, so the extrapolation is linear
      val tS = System.nanoTime()
      (0 until Sample).foreach(i => MetaLog.load(cat.streamDir(f"s$i%05d")))
      val serialEstSec = (System.nanoTime() - tS) / 1e9 * N / Sample

      spark.range(1).count() // lazy-session warmup stays out of the timing
      val tP = System.nanoTime()
      val rows = cat.listStreams(spark).collect()
      val parSec = (System.nanoTime() - tP) / 1e9

      assert(rows.length == N, s"expected $N rows, got ${rows.length}")
      assert(rows.forall(r => !r.getBoolean(5) && r.getLong(4) == 64L))
      // the claim, with slack for a shared host: the 32-thread sweep must be
      // at least `ratio`x faster than the serial sum of loads — derived from
      // the cores actually usable here, since parkNanos-injected latency
      // still needs a thread to park on (an oversubscribed CI host with few
      // usable cores can't show the full 32-way overlap)
      val ratio = math.max(2, math.min(8, Runtime.getRuntime.availableProcessors / 2))
      assert(parSec < serialEstSec / ratio,
        f"parallel sweep $parSec%.2f s vs serial(est) $serialEstSec%.2f s (required ${ratio}x) — claim broken")
      info(f"N=$N serial(est)=$serialEstSec%.1f s parallel=$parSec%.2f s registry=$regLoadMs%.0f ms")

      // scanAll at N streams: ONE scan node, not an N-leaf union — the
      // round-6 design finding. Timed to the EXECUTED PLAN (driver-side
      // analysis + physical planning, where an N-way unionAll pays O(N));
      // state loads ride the same parallel sweep listStreams just proved.
      val tScan = System.nanoTime()
      val all = cat.scanAll(spark)
      val plan = all.queryExecution.executedPlan
      val scanSec = (System.nanoTime() - tScan) / 1e9
      val scans = plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      assert(scans.size == 1,
        s"expected ONE scan node over $N streams, got ${scans.size}:\n$plan")
      assert(scans.head.relation.location.inputFiles.length == N,
        s"combined manifest should list $N files")
      // generous absolute bound: the latency-injected state sweep dominates
      // (~N/threads ms); a 10k-leaf union's planning alone blows far past it
      assert(scanSec < serialEstSec / ratio + 30.0,
        f"scanAll plan at $N streams took $scanSec%.1f s — driver-side bottleneck")
      info(f"scanAll at N=$N: plan in $scanSec%.2f s, 1 scan node, $N manifest files")

      // the catalog SUBSCRIPTION micro-batch at N streams: per-stream slices
      // behind one scan relation, residuals via a broadcast bounds join —
      // the plan must stay one scan node + one join regardless of N (an
      // N-term OR-chain would put a 10k-node expression in the filter)
      val states = cat.namedStates()
      val tSub = System.nanoTime()
      val batch = graft.eslog.EsLog.scanStatesSlices(spark, root,
        states.map { case (n, st) => (cat.streamDir(n), st, 0L, 64L, false) })
      // sparkPlan, not executedPlan: the bounds join makes this an adaptive
      // query, and AdaptiveSparkPlanExec hides the subtree until execution
      val subPlan = batch.queryExecution.sparkPlan
      val subSec = (System.nanoTime() - tSub) / 1e9
      val subScans = subPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      assert(subScans.size == 1,
        s"subscribe batch: expected ONE scan node over $N streams, got ${subScans.size}")
      assert(subPlan.toString.contains("BroadcastHashJoin"),
        "per-stream bounds must apply as a broadcast hash join")
      assert(subSec < serialEstSec / ratio + 30.0,
        f"subscribe batch plan at $N streams took $subSec%.1f s")
      info(f"subscribe batch at N=$N: plan in $subSec%.2f s, 1 scan node + bounds join")

      // paginated LIST at N streams: a 100-row page must cost ~100 state
      // loads, never O(N) — bounded by the SERIAL cost of its own page
      // (with slack), which is itself ~N/100th of the full serial sweep
      val tPage = System.nanoTime()
      val (page, token) = cat.listStreamsPage(spark, 100)
      val pageRows = page.collect()
      val pageSec = (System.nanoTime() - tPage) / 1e6 / 1e3
      assert(pageRows.length == 100 && token.contains(f"s${99}%05d"))
      assert(pageRows.map(_.getString(0)).sameElements((0 until 100).map(i => f"s$i%05d")))
      val pageBudget = serialEstSec * 100.0 / N + 2.0
      assert(pageSec < pageBudget,
        f"page of 100 at N=$N took $pageSec%.2f s (budget $pageBudget%.2f s) — page is loading more than its own states")
      // a token-resumed page deep in the registry costs the same
      val tPage2 = System.nanoTime()
      val (page2, _) = cat.listStreamsPage(spark, 100, Some(f"s${7000}%05d"))
      val page2Rows = page2.collect()
      val page2Sec = (System.nanoTime() - tPage2) / 1e6 / 1e3
      assert(page2Rows.length == 100 &&
        page2Rows.head.getString(0) == f"s${7001}%05d")
      assert(page2Sec < pageBudget,
        f"resumed page took $page2Sec%.2f s (budget $pageBudget%.2f s)")
      info(f"page(100) at N=$N: $pageSec%.2f s first, $page2Sec%.2f s resumed (budget $pageBudget%.2f s)")

      // catalog-wide group lag rides the SAME parallel state sweep: the
      // named-group --all-groups form over 10^4 streams must land in
      // sweep time (not the serial sum), one row per stream with the
      // whole backlog reported for the uncommitted group
      val tLag = System.nanoTime()
      val lags = cat.groupLags(spark, Some("etl")).collect()
      val lagSec = (System.nanoTime() - tLag) / 1e9
      assert(lags.length == N)
      assert(lags.forall(r => !r.getBoolean(2) && r.getLong(5) == 64L),
        "uncommitted group must report the whole backlog per stream")
      assert(lagSec < serialEstSec / ratio,
        f"groupLags sweep $lagSec%.2f s vs serial(est) $serialEstSec%.2f s — sweep claim broken")
      info(f"groupLags at N=$N: $lagSec%.2f s (serial est $serialEstSec%.1f s)")

      // the fan-out intent sweep rides the same bounded-parallel pass:
      // 10^4 streams with zero intents must answer in sweep time and
      // return nothing (intent keys are prefix-separated from groups)
      val tFo = System.nanoTime()
      val intents = cat.fanOutIntents(spark).collect()
      val foSec = (System.nanoTime() - tFo) / 1e9
      assert(intents.isEmpty,
        s"no stream holds an intent, got ${intents.length}")
      assert(foSec < serialEstSec / ratio,
        f"fanOutIntents sweep $foSec%.2f s vs serial(est) $serialEstSec%.2f s — sweep claim broken")
      info(f"fanOutIntents at N=$N: $foSec%.2f s (serial est $serialEstSec%.1f s)")
    } finally MetaLog.unroute(root)
  }
}
