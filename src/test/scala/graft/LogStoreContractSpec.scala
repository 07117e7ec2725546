package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.meta._

/** The [[LogStore]] Scaladoc contract, executable — every implementation
  * must pass the same suite: exactly-one-winner conditional create, atomic
  * replace, list-after-put, and the full MetaLog commit/CAS/checkpoint
  * protocol layered on top. Concrete subclasses bind the FS impl and the
  * object-store impl; porting the log to a new backend means adding a third
  * subclass, not new tests.
  */
abstract class LogStoreContractSpec extends AnyFunSuite with TempDirs {
  def storeName: String
  /** A fresh store + a fresh root directory path valid for it. */
  def freshStore(): (LogStore, String)

  /** Route MetaLog's IO for everything under `root` through `s` — covers
    * both schemeless roots (default-store swap) and URI roots, where
    * [[MetaLog]] would otherwise pick its own Hadoop store (whose conf lacks
    * the test filesystem). */
  private def withMetaLogStore[A](s: LogStore, root: String)(f: => A): A = {
    val prev = MetaLog.store
    MetaLog.store = s
    MetaLog.route(root, s)
    try f finally { MetaLog.store = prev; MetaLog.unroute(root) }
  }

  test(s"$storeName: putIfAbsent has exactly one winner under contention") {
    val (store, root) = freshStore()
    val p = MetaLog.join(root, "probe")
    store.mkdirs(root)
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val wins = Await.result(
      Future.sequence((0 until 16).map(i => Future(store.putIfAbsent(p, s"w$i".getBytes)))),
      1.minute)
    assert(wins.count(identity) == 1, wins.toString)
    // the surviving content is the winner's, byte-for-byte
    val winner = wins.indexOf(true)
    assert(new String(store.read(p)) == s"w$winner")
    // and the key is immediately visible to exists + list (read-after-write)
    assert(store.exists(p))
    assert(store.list(root).contains("probe"))
  }

  test(s"$storeName: putAtomic replaces; delete is idempotent") {
    val (store, root) = freshStore()
    val p = MetaLog.join(root, "ptr")
    store.mkdirs(root)
    store.putAtomic(p, "1".getBytes)
    store.putAtomic(p, "2".getBytes)
    assert(new String(store.read(p)) == "2")
    store.delete(p)
    assert(!store.exists(p))
    store.delete(p) // absent key: no-op, no throw
  }

  test(s"$storeName: list returns immediate children only") {
    val (store, root) = freshStore()
    val dir = MetaLog.join(root, "d")
    store.mkdirs(dir)
    store.mkdirs(MetaLog.join(dir, "sub"))
    store.putAtomic(MetaLog.join(dir, "a.json"), "x".getBytes)
    store.putAtomic(MetaLog.join(dir, "sub/b.json"), "y".getBytes)
    val names = store.list(dir)
    assert(names.contains("a.json"), names.toString)
    assert(names.contains("sub"), names.toString)
    assert(!names.exists(_.contains("b.json")), names.toString)
    assert(store.isDir(dir) && !store.isDir(MetaLog.join(root, "nope")))
  }

  test(s"$storeName: MetaLog protocol — commits, checkpoint crossing, reload") {
    val (store, root) = freshStore()
    withMetaLogStore(store, root) {
      val dir = s"$root/stream1"
      var st = MetaLog.commit(dir, StreamState.empty, Seq(CreateStream(1L, 1, 1, -1L)))
      st = MetaLog.commit(dir, st, Seq(OpenStream(1L)))
      st = MetaLog.commit(dir, st, Seq(OpenSegment(0, 0L, 1L)))
      st = MetaLog.commit(dir, st,
        Seq(CommitFiles(0, 1L, Seq(FileMeta("f-0", 10, 100L, 0, 10, 0L, 0L)))))
      // cross the checkpoint interval so load exercises checkpoint + deltas
      (0 until 20).foreach { i => st = MetaLog.commit(dir, st, Seq(KvPut(s"k$i", "v"))) }
      assert(MetaLog.load(dir) == st)
      assert(MetaLog.loadAt(dir, 3).nextOffset == 10)
      assert(MetaLog.loadAt(dir, 3).kv.isEmpty)
      // stale CAS token loses
      assertThrows[ConcurrentCommitException](
        MetaLog.commit(dir, st.copy(version = st.version - 1), Seq(KvPut("x", "y"))))
    }
  }

  test(s"$storeName: concurrent commitWithRetry linearizes, no commit lost") {
    val (store, root) = freshStore()
    withMetaLogStore(store, root) {
      val dir = s"$root/race"
      MetaLog.commit(dir, StreamState.empty, Seq(CreateStream(2L, 1, 1, -1L)))
      import scala.concurrent.{Await, Future, ExecutionContext}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.global
      val writers = (0 until 6).map { w => Future {
        (0 until 8).foreach { i =>
          MetaLog.commitWithRetry(dir, maxAttempts = 200) { _ => Seq(KvPut(s"w$w-$i", "x")) }
        }
      }}
      Await.result(Future.sequence(writers), 2.minutes)
      val st = MetaLog.load(dir)
      assert(st.kv.size == 48, st.kv.size.toString)
      assert(st.version == 48L, st.version.toString)
    }
  }
}

class FsLogStoreContractSpec extends LogStoreContractSpec {
  def storeName = "FsLogStore"
  def freshStore(): (LogStore, String) =
    (FsLogStore, tmpDir("lsc-fs-"))
}

/** Third contract configuration: [[HadoopLogStore]] with the HADOOP-19256
  * conditional create ON, driven through its real `createFile().must(...)`
  * code path against the S3-semantics double ([[S3DoubleFileSystem]]) — an
  * `s3a://`-shaped stream dir gets the same one-winner commit guarantee the
  * ObjectLogStore configuration proves. */
class HadoopConditionalLogStoreContractSpec extends LogStoreContractSpec {
  def storeName = "HadoopLogStore+conditionalCreate(s3double)"
  private val n = new java.util.concurrent.atomic.AtomicInteger()
  def freshStore(): (LogStore, String) = {
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.s3double.impl", classOf[S3DoubleFileSystem].getName)
    conf.setBoolean(HadoopLogStore.ConditionalCreateKey, true)
    (new HadoopLogStore(conf), s"s3double://lsc${n.incrementAndGet()}/root")
  }

  test("racy create loses an update in the HEAD->PUT window; conditional create does not") {
    // Without conditional writes, S3A's overwrite=false create is HEAD then
    // PUT: a competing writer landing between them is silently overwritten —
    // BOTH writers report success. Deterministic reproduction via the
    // injection hook, then the same race with the conditional path: exactly
    // one winner. This is WHY ConditionalCreateKey exists.
    val racyConf = new org.apache.hadoop.conf.Configuration()
    racyConf.set("fs.s3double.impl", classOf[S3DoubleFileSystem].getName)
    val racy = new HadoopLogStore(racyConf)
    val bucket = S3DoubleFileSystem.bucket("race1")
    try {
      S3DoubleFileSystem.betweenHeadAndPut = { k =>
        if (k.endsWith("probe")) bucket.put(k, "competitor".getBytes)
      }
      val won = racy.putIfAbsent("s3double://race1/probe", "me".getBytes)
      // the racy path reports success AND clobbers the competitor: lost update
      assert(won, "racy create believed it created the file")
      assert(new String(bucket.get("probe").get) == "me",
        "competitor's write was silently overwritten — the documented race")
    } finally S3DoubleFileSystem.betweenHeadAndPut = _ => ()

    // same competing write, conditional path: the store decides — one winner
    val (cond, _) = freshStore()
    val b2 = S3DoubleFileSystem.bucket("race2")
    b2.beforeConditionalPut = { k =>
      if (k.endsWith("probe")) b2.put(k, "competitor".getBytes)
    }
    val won2 = cond.putIfAbsent("s3double://race2/probe", "me".getBytes)
    assert(!won2, "conditional create must lose to the competing writer")
    assert(new String(b2.get("probe").get) == "competitor")
  }

  test("conditional path fails loud on a filesystem without conditional-create support") {
    // The default FileSystem builder rejects unknown mandatory keys, so
    // pointing a conditional-create HadoopLogStore at a plain filesystem is
    // an error at build() — never a silent fallback to the racy create.
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.setBoolean(HadoopLogStore.ConditionalCreateKey, true)
    val store = new HadoopLogStore(conf)
    val dir = tmpDir("lsc-cond-local-")
    assertThrows[IllegalArgumentException](
      store.putIfAbsent(s"file:$dir/probe", "x".getBytes))
  }
}

/** [[ObjectStore]] wrapper with LAGGING LIST visibility: a key appears in
  * `listChildren` only after `lagCalls` further list calls — the
  * eventually-consistent LIST of pre-2020 S3 (and of listing caches today).
  * GET/HEAD stay consistent. For proving the commit protocol's safety never
  * rides LIST freshness: a stale listing only costs CAS retries. */
final class LaggingListStore(inner: InMemoryObjectStore, lagCalls: Int)
    extends ObjectStore {
  private val bornAt = new scala.collection.concurrent.TrieMap[String, Long]()
  private val listCalls = new java.util.concurrent.atomic.AtomicLong()
  private def stamp(key: String): Unit = { bornAt.putIfAbsent(key, listCalls.get()); () }

  override def get(key: String): Option[Array[Byte]] = inner.get(key)
  override def head(key: String): Boolean = inner.head(key)
  override def putIfNoneMatch(key: String, bytes: Array[Byte]): Boolean = {
    val won = inner.putIfNoneMatch(key, bytes); if (won) stamp(key); won
  }
  override def put(key: String, bytes: Array[Byte]): Unit = {
    inner.put(key, bytes); stamp(key)
  }
  override def listChildren(prefix: String): Seq[String] = {
    val now = listCalls.incrementAndGet()
    inner.listChildren(prefix).filter { name =>
      bornAt.get(prefix + name).forall(now - _ > lagCalls)
    }
  }
  override def delete(key: String): Unit = inner.delete(key)
}

class ObjectLogStoreContractSpec extends LogStoreContractSpec {
  def storeName = "ObjectLogStore"
  def freshStore(): (LogStore, String) =
    (new ObjectLogStore(new InMemoryObjectStore), "/mem/lsc")

  test("ObjectLogStore: lagging LIST only costs retries — no commit lost, versions stay dense") {
    val store = new ObjectLogStore(new LaggingListStore(new InMemoryObjectStore, lagCalls = 2))
    val prev = MetaLog.store
    MetaLog.store = store
    try {
      val dir = "/mem/lag/stream"
      MetaLog.commit(dir, StreamState.empty, Seq(CreateStream(7L, 1, 1, -1L)))
      import scala.concurrent.{Await, Future, ExecutionContext}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.global
      val writers = (0 until 4).map { w => Future {
        (0 until 6).foreach { i =>
          MetaLog.commitWithRetry(dir, maxAttempts = 500) { _ => Seq(KvPut(s"w$w-$i", "x")) }
        }
      }}
      Await.result(Future.sequence(writers), 2.minutes)
      // loads see stale listings mid-flight, but the version file CAS means
      // every commit lands on a distinct dense version and nothing is lost.
      // (re-load a few times: each load advances the lagging LIST's clock,
      // so the final commits become visible — eventual consistency.)
      val st = (0 until 5).map(_ => MetaLog.load(dir)).last
      assert(st.kv.size == 24, st.kv.size.toString)
      assert(st.version == 24L, st.version.toString)
    } finally MetaLog.store = prev
  }

  test("ObjectLogStore: duplicate-PUT race — loser retries onto the next version") {
    val inner = new InMemoryObjectStore
    val store = new ObjectLogStore(inner)
    val prev = MetaLog.store
    MetaLog.store = store
    try {
      val dir = "/mem/dup/stream"
      MetaLog.commit(dir, StreamState.empty, Seq(CreateStream(3L, 1, 1, -1L)))
      // inject a competing writer that lands the SAME version file right
      // before our conditional PUT decides — the classic commit race
      var injected = false
      inner.beforeConditionalPut = { key =>
        if (!injected && key.endsWith("00000000000000000001.json")) {
          injected = true
          inner.put(key,
            """[{"action":"kvPut","key":"racer","value":"won"}]""".getBytes)
        }
      }
      MetaLog.commitWithRetry(dir) { _ => Seq(KvPut("me", "too")) }
      val st = MetaLog.load(dir)
      // both writers' actions land, on distinct versions, nothing lost
      assert(st.kv == Map("racer" -> "won", "me" -> "too"), st.kv.toString)
      assert(st.version == 2L, st.version.toString)
    } finally MetaLog.store = prev
  }
}
