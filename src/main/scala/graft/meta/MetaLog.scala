package graft.meta

import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{ObjectMapper, JsonNode}
import com.fasterxml.jackson.databind.node.{ObjectNode, ArrayNode}

/** The per-stream metadata log: `<streamDir>/_eslog/<version%020d>.json`.
  *
  * Each version file holds a JSON array of actions committed atomically.
  * Commit is compare-and-swap: the version number IS the CAS token — writing
  * version N succeeds for exactly one writer (hard-link creation is atomic and
  * fails if the target exists). This replaces the reference's etcd
  * transactions (pd/pkg/server/storage/endpoint) and, combined with epoch
  * fencing in [[StreamState]], gives the single-writer guarantee the
  * reference gets from the seal protocol.
  *
  * All IO goes through the [[LogStore]] seam ([[FsLogStore]] locally): on S3
  * the hard-link trick becomes a conditional PUT (If-None-Match) on the same
  * layout — a new LogStore implementation, nothing else changes.
  * The log stays O(segments): every [[CheckpointInterval]] commits the writer
  * drops a `<v>.checkpoint.json` snapshot of the folded state plus a
  * `_last_checkpoint` pointer (Delta-style), so `load` reads one checkpoint +
  * at most [[CheckpointInterval]] deltas — O(1) in the number of commits, and
  * a 100 TB stream with ~100k files still loads in one read.
  */
object MetaLog {
  private val mapper = new ObjectMapper()
  val LogDirName = "_eslog"
  val CheckpointInterval = 10
  private val LastCheckpointName = "_last_checkpoint"

  /** The default storage backend for SCHEMELESS (plain local) stream dirs.
    * Swappable for tests and for object-store deployments (see the
    * [[LogStore]] contract); FS by default. URI-scheme stream dirs
    * (`hdfs://`, `s3a://`, `file:/`, ...) default to [[HadoopLogStore]]
    * instead — see [[storeFor]]. */
  @volatile var store: LogStore = FsLogStore

  /** Hadoop-FS-backed store for URI-scheme stream dirs: conf comes from the
    * active SparkSession when one exists (credentials included), else
    * classpath defaults. */
  private lazy val hadoopStore: LogStore = new HadoopLogStore(() =>
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration()))

  /** Per-prefix store routing: a stream whose dir starts with a registered
    * prefix commits its log through that store instead of the default —
    * mixed deployments (some streams' logs on an object store, others on
    * local FS) in one session. Longest matching prefix wins. Data files are
    * unaffected; only the `_eslog/` log rides the routed store. */
  private val routes = new scala.collection.concurrent.TrieMap[String, LogStore]()
  def route(prefix: String, s: LogStore): Unit = { routes.put(prefix, s); () }
  def unroute(prefix: String): Unit = { routes.remove(prefix); () }
  private[graft] def storeFor(streamDir: String): LogStore = {
    if (routes.nonEmpty) {
      val routed = routes.filter { case (p, _) => streamDir.startsWith(p) }
        .toSeq.sortBy(-_._1.length).headOption.map(_._2)
      if (routed.isDefined) return routed.get
    }
    if (hasScheme(streamDir)) hadoopStore else store
  }

  /** True for URI-style paths (`scheme:...` with a 2+ char scheme — a single
    * letter is a Windows drive, not a scheme). */
  private[meta] def hasScheme(path: String): Boolean = {
    val i = path.indexOf(':')
    i >= 2 && path.substring(0, i).forall(c => c.isLetterOrDigit || c == '+' || c == '-' || c == '.')
  }

  /** Join path segments scheme-agnostically (string concat — correct for
    * POSIX paths, Hadoop URIs, and object keys alike). */
  def join(base: String, rel: String): String =
    if (base.endsWith("/")) base + rel else base + "/" + rel

  def logDir(streamDir: String): String = join(streamDir, LogDirName)

  private def versionFile(streamDir: String, v: Long): String =
    join(logDir(streamDir), f"$v%020d.json")

  // ---- JSON codec (hand-rolled over Jackson nodes: stable, no reflection) ----

  private def fileToJson(f: FileMeta): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("path", f.path); o.put("rows", f.rows); o.put("bytes", f.bytes)
    o.put("startOffset", f.startOffset); o.put("endOffset", f.endOffset)
    o.put("minTimestamp", f.minTimestamp); o.put("maxTimestamp", f.maxTimestamp)
    o.put("maxDelta", f.maxDelta)
    o
  }

  private def fileFromJson(n: JsonNode): FileMeta = FileMeta(
    n.get("path").asText(), n.get("rows").asLong(), n.get("bytes").asLong(),
    n.get("startOffset").asLong(), n.get("endOffset").asLong(),
    n.get("minTimestamp").asLong(), n.get("maxTimestamp").asLong(),
    // Logs written before maxDelta existed: the widest batch a file can hold
    // is its whole span, which keeps the rewritten fetch bound correct.
    Option(n.get("maxDelta")).map(_.asInt())
      .getOrElse(math.min(Int.MaxValue.toLong, math.max(1L, n.get("endOffset").asLong() - n.get("startOffset").asLong())).toInt))

  def actionToJson(a: Action): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("action", a.action)
    a match {
      case CreateStream(id, r, ack, ret) =>
        o.put("streamId", id); o.put("replica", r); o.put("ackCount", ack); o.put("retentionMs", ret)
      case OpenStream(e) => o.put("epoch", e)
      case OpenSegment(i, st, e) => o.put("index", i); o.put("start", st); o.put("epoch", e)
      case CommitFiles(i, e, files) =>
        o.put("index", i); o.put("epoch", e)
        val arr = o.putArray("files"); files.foreach(f => arr.add(fileToJson(f)))
      case SealSegment(i, end, e) => o.put("index", i); o.put("end", end); o.put("epoch", e)
      case ImportSegment(i, st, end, e) =>
        o.put("index", i); o.put("start", st); o.put("epoch", e)
        end.foreach(o.put("end", _))
      case BackfillFiles(i, e, files) =>
        o.put("index", i); o.put("epoch", e)
        val arr = o.putArray("files"); files.foreach(f => arr.add(fileToJson(f)))
      case Trim(m) => o.put("minOffset", m)
      case ReplaceFiles(i, removed, added) =>
        o.put("index", i)
        val r = o.putArray("removed"); removed.foreach(r.add)
        val a2 = o.putArray("added"); added.foreach(f => a2.add(fileToJson(f)))
      case UpdateStream(r, ack, ret) =>
        r.foreach(o.put("replica", _)); ack.foreach(o.put("ackCount", _)); ret.foreach(o.put("retentionMs", _))
      case DeleteStream() => ()
      case KvPut(k, v) => o.put("key", k); o.put("value", v)
      case KvDel(k) => o.put("key", k)
      case KvDelRange(from, until) => o.put("from", from); until.foreach(o.put("until", _))
    }
    o
  }

  def actionFromJson(n: JsonNode): Action = n.get("action").asText() match {
    case "createStream" => CreateStream(n.get("streamId").asLong(), n.get("replica").asInt(),
      n.get("ackCount").asInt(), n.get("retentionMs").asLong())
    case "openStream" => OpenStream(n.get("epoch").asLong())
    case "openSegment" => OpenSegment(n.get("index").asInt(), n.get("start").asLong(), n.get("epoch").asLong())
    case "commitFiles" =>
      val files = n.get("files").elements().asScala.map(fileFromJson).toSeq
      CommitFiles(n.get("index").asInt(), n.get("epoch").asLong(), files)
    case "sealSegment" => SealSegment(n.get("index").asInt(), n.get("end").asLong(), n.get("epoch").asLong())
    case "importSegment" => ImportSegment(n.get("index").asInt(), n.get("start").asLong(),
      Option(n.get("end")).map(_.asLong()), n.get("epoch").asLong())
    case "backfillFiles" =>
      BackfillFiles(n.get("index").asInt(), n.get("epoch").asLong(),
        n.get("files").elements().asScala.map(fileFromJson).toSeq)
    case "trim" => Trim(n.get("minOffset").asLong())
    case "replaceFiles" => ReplaceFiles(n.get("index").asInt(),
      n.get("removed").elements().asScala.map(_.asText()).toSeq,
      n.get("added").elements().asScala.map(fileFromJson).toSeq)
    case "updateStream" => UpdateStream(
      Option(n.get("replica")).map(_.asInt()),
      Option(n.get("ackCount")).map(_.asInt()),
      Option(n.get("retentionMs")).map(_.asLong()))
    case "deleteStream" => DeleteStream()
    case "kvPut" => KvPut(n.get("key").asText(), n.get("value").asText())
    case "kvDel" => KvDel(n.get("key").asText())
    case "kvDelRange" => KvDelRange(n.get("from").asText(), Option(n.get("until")).map(_.asText()))
    case other => throw new IllegalArgumentException(s"unknown action $other")
  }

  // ---- state snapshot codec (checkpoint payload) ----

  private def segToJson(seg: SegmentState): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("index", seg.index); o.put("start", seg.start); o.put("epoch", seg.epoch)
    seg.sealedEnd.foreach(o.put("sealedEnd", _))
    val arr = o.putArray("files"); seg.files.foreach(f => arr.add(fileToJson(f)))
    o
  }

  private def segFromJson(n: JsonNode): SegmentState = SegmentState(
    n.get("index").asInt(), n.get("start").asLong(), n.get("epoch").asLong(),
    Option(n.get("sealedEnd")).map(_.asLong()),
    n.get("files").elements().asScala.map(fileFromJson).toVector)

  def stateToJson(s: StreamState): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("streamId", s.streamId); o.put("replica", s.replica); o.put("ackCount", s.ackCount)
    o.put("retentionMs", s.retentionMs); o.put("epoch", s.epoch)
    o.put("startOffset", s.startOffset); o.put("deleted", s.deleted); o.put("version", s.version)
    val segs = o.putArray("segments"); s.segments.foreach(seg => segs.add(segToJson(seg)))
    val kv = o.putObject("kv"); s.kv.foreach { case (k, v) => kv.put(k, v) }
    o
  }

  def stateFromJson(n: JsonNode): StreamState = StreamState(
    n.get("streamId").asLong(), n.get("replica").asInt(), n.get("ackCount").asInt(),
    n.get("retentionMs").asLong(), n.get("epoch").asLong(), n.get("startOffset").asLong(),
    n.get("segments").elements().asScala.map(segFromJson).toVector,
    n.get("kv").properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap,
    n.get("deleted").asBoolean(), n.get("version").asLong())

  // ---- log IO (all through the LogStore seam) ----

  def exists(streamDir: String): Boolean = storeFor(streamDir).isDir(logDir(streamDir))

  private def checkpointFile(streamDir: String, v: Long): String =
    join(logDir(streamDir), f"$v%020d.checkpoint.json")

  private def listVersionsAfter(streamDir: String, after: Long): Seq[Long] =
    storeFor(streamDir).list(logDir(streamDir))
      .filter(n => n.endsWith(".json") && !n.startsWith("_") && !n.contains(".checkpoint"))
      .map(_.stripSuffix(".json").toLong)
      .filter(_ > after)
      .sorted

  private def readVersion(streamDir: String, v: Long): Seq[Action] = {
    val bytes = storeFor(streamDir).read(versionFile(streamDir, v))
    mapper.readTree(bytes).elements().asScala.map(actionFromJson).toSeq
  }

  /** Best-effort read of the newest checkpointed state (None → fold from 0). */
  private def readLastCheckpoint(streamDir: String): Option[StreamState] =
    readLastCheckpointWithPointer(streamDir)._1

  /** [[readLastCheckpoint]] that ALSO returns the `_last_checkpoint`
    * pointer value it saw (even when the checkpoint file itself is missing
    * or unreadable) — [[load]]'s gap backstop compares the fold against it
    * at zero extra store ops. Both halves best-effort. */
  private def readLastCheckpointWithPointer(
      streamDir: String): (Option[StreamState], Option[Long]) = {
    // two nested best-efforts, NOT one: a checkpoint file that fails to
    // read/parse (truncated by an interrupted copy — exactly the scenario
    // the gap backstop exists for) must not discard the successfully-read
    // pointer, or the backstop goes blind precisely when it is needed
    val ptrSeen = lastCheckpointPointer(streamDir)
    val state = ptrSeen.flatMap { v =>
      try {
        val s = storeFor(streamDir)
        val f = checkpointFile(streamDir, v)
        if (!s.exists(f)) None
        else Option(mapper.readTree(s.read(f)).get("checkpoint")).map(stateFromJson)
      } catch { case scala.util.control.NonFatal(_) => None }
    }
    (state, ptrSeen)
  }

  /** Best-effort read of the `_last_checkpoint` pointer: a version that is
    * committed, since the pointer is written after its version file. */
  private def lastCheckpointPointer(streamDir: String): Option[Long] =
    try {
      val s = storeFor(streamDir)
      val ptr = join(logDir(streamDir), LastCheckpointName)
      if (!s.exists(ptr)) None
      else Some(new String(s.read(ptr), StandardCharsets.UTF_8).trim.toLong)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Write `<v>.checkpoint.json` + `_last_checkpoint`. Content is a pure
    * function of the log prefix, so concurrent writers racing here converge
    * on identical bytes; the atomic replace makes the race harmless.
    * Checkpoints older than the previous one are deleted — each is a full
    * state snapshot, so unbounded retention is pure garbage (delta files
    * stay: they are the WATCH_RESOURCE history and are tiny). */
  private def writeCheckpoint(streamDir: String, state: StreamState): Unit =
    try {
      val s = storeFor(streamDir)
      val o = mapper.createObjectNode()
      o.set[ObjectNode]("checkpoint", stateToJson(state))
      s.putAtomic(checkpointFile(streamDir, state.version), mapper.writeValueAsBytes(o))
      s.putAtomic(join(logDir(streamDir), LastCheckpointName),
        state.version.toString.getBytes(StandardCharsets.UTF_8))
      // retain the new checkpoint + one predecessor (for readers that hold a
      // slightly stale _last_checkpoint pointer mid-load)
      s.list(logDir(streamDir))
        .filter(_.endsWith(".checkpoint.json"))
        .map(n => n.stripSuffix(".checkpoint.json").toLong)
        .sorted.dropRight(2)
        .foreach(v => s.delete(checkpointFile(streamDir, v)))
    } catch { case scala.util.control.NonFatal(_) => () } // advisory only

  /** Copy `srcDir`'s metadata log into `dstDir`, up to and including
    * `upToVersion` — the log half of a stream clone. Version files are
    * immutable, so a clone of a LIVE stream is a consistent prefix by
    * construction: commits landing mid-copy simply aren't in the listed
    * snapshot. Checkpoints at or below the bound ride along (best-effort:
    * the source's checkpoint retention may delete one mid-copy, which only
    * costs the clone a longer first fold). Source and destination each use
    * their own routed store, so a clone can cross backends (local log →
    * object-store log). Returns the highest version copied. */
  def cloneLog(srcDir: String, dstDir: String,
               upToVersion: Long = Long.MaxValue): Long = {
    val ss = storeFor(srcDir)
    val ds = storeFor(dstDir)
    require(!exists(dstDir), s"$dstDir already has a metadata log")
    ds.mkdirs(logDir(dstDir))
    val names = ss.list(logDir(srcDir))
    val versions = names
      .filter(n => n.endsWith(".json") && !n.startsWith("_") && !n.contains(".checkpoint"))
      .map(_.stripSuffix(".json").toLong).filter(_ <= upToVersion).sorted
    require(versions.nonEmpty, s"$srcDir has no log versions <= $upToVersion")
    versions.foreach { v =>
      ds.putAtomic(versionFile(dstDir, v), ss.read(versionFile(srcDir, v)))
    }
    val cps = names.filter(_.endsWith(".checkpoint.json"))
      .map(_.stripSuffix(".checkpoint.json").toLong).filter(_ <= upToVersion).sorted
    val copied = cps.filter { v =>
      try { ds.putAtomic(checkpointFile(dstDir, v), ss.read(checkpointFile(srcDir, v))); true }
      catch { case scala.util.control.NonFatal(_) => false }
    }
    copied.lastOption.foreach { v =>
      ds.putAtomic(join(logDir(dstDir), LastCheckpointName),
        v.toString.getBytes(StandardCharsets.UTF_8))
    }
    versions.last
  }

  /** First log version that committed data files — the natural "stream has
    * content" snapshot id (fixtures and snapshot/delta readers share this
    * definition so it can never drift between them). */
  def firstDataCommit(streamDir: String): Option[Long] =
    actionsSince(streamDir, -1L).collectFirst {
      case (v, actions) if actions.exists(_.isInstanceOf[CommitFiles]) => v
    }

  /** Serialized size of a state's checkpoint payload (scale tests: where
    * does the multipart threshold engage). */
  private[graft] def stateToJsonBytes(s: StreamState): Long =
    mapper.writeValueAsBytes(stateToJson(s)).length.toLong

  /** Best-effort removal of every log file under `streamDir` — clone-failure
    * cleanup through the ROUTED store (a Hadoop-side recursive delete cannot
    * see a log that rides an ObjectLogStore route). Never throws. */
  private[graft] def dropLog(streamDir: String): Unit = {
    val s = storeFor(streamDir)
    try s.list(logDir(streamDir)).foreach(n => s.delete(join(logDir(streamDir), n)))
    catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Fold the log into a snapshot-consistent state: newest checkpoint + the
    * ≤ CheckpointInterval deltas after it (O(1) in total commits). */
  def load(streamDir: String): StreamState = {
    // Probe FORWARD from the checkpoint instead of listing the log dir:
    // version numbers are contiguous CAS tokens (v+1 is only ever written
    // by a writer holding state v), so "first missing version" ends the
    // tail. A directory listing here is O(total commits) — at 10^5 commits
    // that is a 100k-name listing (and ~100 LIST pages on an object store)
    // on EVERY load, i.e. on every append — while the probe is
    // O(CheckpointInterval) existence checks + reads whatever the log's
    // age. The listing path remains for the watch/history/admin surfaces,
    // where enumerating versions is the point. Pinned by the churn spec:
    // identical load op-counts at 10^3 and 10^4 commits.
    val s0 = storeFor(streamDir)
    val (base0, ptrSeen) = readLastCheckpointWithPointer(streamDir)
    var st = base0.getOrElse(StreamState.empty)
    var v = st.version + 1
    while (s0.exists(versionFile(streamDir, v))) {
      st = readVersion(streamDir, v).foldLeft(st)((s2, a) => StreamState.apply(s2, a, v))
      v += 1
    }
    // GAP BACKSTOP: the probe's contiguity contract is that versions are
    // dense CAS tokens, so "first missing" = log tail. A version file that
    // goes missing MID-LOG (interrupted external copy, manual deletion, a
    // store whose exists() false-negatives) would otherwise return a
    // silently TRUNCATED state. The _last_checkpoint pointer read at the
    // START of the load detects it for free: a pointer at a version the
    // fold never reached means versions beyond a hole exist (the pointer
    // predates the fold, so a commit landing DURING the load can never
    // explain it — no benign-race false positive, no extra store op).
    if (ptrSeen.exists(_ > st.version))
      throw new IllegalStateException(
        s"metadata log gap in $streamDir: version $v missing but a " +
          s"checkpoint pointer sits at ${ptrSeen.get} — the log's " +
          "contiguous-version contract is broken (partial copy or deleted " +
          "version file); refusing to serve a truncated state")
    st
  }

  /** Time travel: the state as of log version `asOf` (inclusive). Uses the
    * newest checkpoint at or below the target when one survives retention;
    * otherwise folds the (never-deleted) delta files from version 0 —
    * O(asOf) reads in that case, the usual price of deep time travel. */
  def loadAt(streamDir: String, asOf: Long): StreamState = {
    val base = readLastCheckpoint(streamDir).filter(_.version <= asOf)
      .getOrElse(StreamState.empty)
    listVersionsAfter(streamDir, base.version).takeWhile(_ <= asOf).foldLeft(base) { (s, v) =>
      readVersion(streamDir, v).foldLeft(s)((s2, a) => StreamState.apply(s2, a, v))
    }
  }

  /** Actions of every version strictly after `after`, in commit order —
    * the WATCH_RESOURCE feed (rpc.fbs:691-778): the metadata log is itself a
    * watchable change stream keyed by version. */
  def actionsSince(streamDir: String, after: Long): Seq[(Long, Seq[Action])] =
    listVersionsAfter(streamDir, after).map(v => v -> readVersion(streamDir, v))

  /** Newest committed version (-1 when the log is empty). Probes forward
    * from the checkpoint pointer, as [[load]] does, instead of listing the
    * log: a watch source asks on every trigger, and the listing grows with
    * every commit while the probe is at most CheckpointInterval existence
    * checks. */
  def latestVersion(streamDir: String): Long = {
    val s = storeFor(streamDir)
    var v = lastCheckpointPointer(streamDir).getOrElse(-1L)
    while (s.exists(versionFile(streamDir, v + 1))) v += 1
    v
  }

  /** CAS-append `actions` as version `expectedVersion + 1`.
    * Returns the new state; throws [[ConcurrentCommitException]] if another
    * writer won the version (caller should re-load, re-validate, retry).
    */
  def commit(streamDir: String, state: StreamState, actions: Seq[Action]): StreamState = {
    // Validate locally first so a bad commit never hits the log.
    val v = state.version + 1
    val next = actions.foldLeft(state)((s, a) => StreamState.apply(s, a, v))
    val s0 = storeFor(streamDir)
    s0.mkdirs(logDir(streamDir))
    val arr: ArrayNode = mapper.createArrayNode()
    actions.foreach(a => arr.add(actionToJson(a)))
    // The version number IS the CAS token: putIfAbsent succeeds for exactly
    // one writer of version v (FS: hard link; S3: If-None-Match PUT).
    if (!s0.putIfAbsent(versionFile(streamDir, v), mapper.writeValueAsBytes(arr)))
      throw new ConcurrentCommitException(s"version $v already committed in $streamDir")
    if (v > 0 && v % CheckpointInterval == 0) writeCheckpoint(streamDir, next)
    next
  }

  /** Retry loop for contended commits: re-load, re-derive actions, commit. */
  def commitWithRetry(streamDir: String, maxAttempts: Int = 20)(
      mkActions: StreamState => Seq[Action]): StreamState = {
    var attempt = 0
    while (true) {
      val state = load(streamDir)
      val actions = mkActions(state)
      if (actions.isEmpty) return state
      try return commit(streamDir, state, actions)
      catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt >= maxAttempts) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

final class ConcurrentCommitException(msg: String) extends RuntimeException(msg)
