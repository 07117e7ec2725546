package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{IndexCommit, Multimodal, Similarity}

/** The transactional persisted-index contract ([[graft.operators.IndexCommit]]):
  * reader transparency under concurrent maintenance, crash safety (pointer
  * stays on the old version), append replay safety (batchId), CAS rivalry
  * convergence, pre-pointer fallback, and the compaction family's
  * search-invariance (LSH) / global-recap (media) semantics. */
class IndexCommitSpec extends SparkTestBase {

  private def emb = {
    Fixtures.tune(spark)
    spark.read.parquet(sf("embeddings"))
  }

  private def searchSet(dir: String, nprobe: Int = 3): Set[(Long, Long, Long)] =
    Similarity.searchIvfIndexAt(spark, dir, emb.where(col("vec_id") < 3),
      "vec_id", "embedding", k = 5, nprobe = nprobe)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def buildAppended(root: String): Unit = {
    Similarity.writeIvfIndex(Similarity.buildIvfIndexSampled(
      emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding", nlist = 8), root)
    Similarity.appendToIvfIndex(spark, root,
      emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding")
    ()
  }

  test("searches run unperturbed DURING a compact (no quiesce window)") {
    val root = tmpDir("ixc-concurrent-")
    buildAppended(root)
    val before = searchSet(root)
    // a search DataFrame planned BEFORE the compact holds the pre-compact
    // snapshot (immutable trees); it must still collect correctly AFTER
    // the pointer flips
    val inFlight = Similarity.searchIvfIndexAt(spark, root,
      emb.where(col("vec_id") < 3), "vec_id", "embedding", k = 5, nprobe = 3)
    // and a search issued AT THE WORST MOMENT — after the merged tree is
    // written but before the CAS lands — must see the committed (old)
    // version, not a half-swapped layout
    var midCompact: Option[Set[(Long, Long, Long)]] = None
    IndexCommit.testBeforeCommit = () => {
      if (midCompact.isEmpty) midCompact = Some(searchSet(root))
    }
    try Similarity.compactIvfIndex(spark, root)
    finally IndexCommit.testBeforeCommit = () => ()
    assert(midCompact.contains(before),
      "search during the compact's commit window must equal the committed snapshot")
    assert(inFlight.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == before,
      "a pre-compact plan must stay collectible and correct after the pointer flips")
    assert(searchSet(root) == before, "compaction must never change results")
  }

  test("crashed append: pointer stays on the old version, vacuum reclaims the orphan") {
    val root = tmpDir("ixc-crash-")
    buildAppended(root)
    val v0 = IndexCommit.load(root).get
    val before = searchSet(root)
    IndexCommit.testBeforeCommit =
      () => throw new RuntimeException("injected crash before CAS")
    val crashed = intercept[RuntimeException] {
      Similarity.appendToIvfIndex(spark, root,
        emb.where(col("vec_id") < 5), "vec_id", "embedding",
        batchId = Some("b-crash"))
    }
    IndexCommit.testBeforeCommit = () => ()
    assert(crashed.getMessage.contains("injected"))
    val v1 = IndexCommit.load(root).get
    assert(v1 == v0, "a crash before the CAS must leave the committed state untouched")
    assert(searchSet(root) == before, "readers must not see the crashed append")
    // the crashed append's staged tree is an unreferenced orphan on disk
    val children = new java.io.File(root).listFiles()
      .filter(_.isDirectory).map(_.getName)
      .filter(n => n == "cells" || n.startsWith("cells-")).toSet
    assert(children.size == v0.dirs.size + 1,
      s"expected exactly one orphan tree: $children vs ${v0.dirs}")
    val dead = Similarity.vacuumIvfIndex(spark, root)
    assert(dead.size == 1 && !v0.dirs.contains(dead.head),
      s"vacuum must reclaim exactly the orphan: $dead")
    // the same batch retries cleanly after the crash (id was never committed)
    assert(Similarity.appendToIvfIndex(spark, root,
      emb.where(col("vec_id") < 5), "vec_id", "embedding",
      batchId = Some("b-crash")))
  }

  test("append replay guard: a committed batchId is skipped, rows never duplicate") {
    val root = tmpDir("ixc-replay-")
    Similarity.writeIvfIndex(Similarity.buildIvfIndexSampled(
      emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding", nlist = 8), root)
    val odd = emb.where(col("vec_id") % 2 === 1)
    assert(Similarity.appendToIvfIndex(spark, root, odd, "vec_id", "embedding",
      batchId = Some("batch-7")), "first delivery must append")
    val rows = Similarity.readIvfIndex(spark, root).cells.count()
    val sr = searchSet(root)
    assert(!Similarity.appendToIvfIndex(spark, root, odd, "vec_id", "embedding",
      batchId = Some("batch-7")), "replayed delivery must be skipped")
    assert(Similarity.readIvfIndex(spark, root).cells.count() == rows,
      "a replayed batch must not duplicate cell rows")
    assert(searchSet(root) == sr)
    // the guard survives compaction (batch ids carry forward)
    Similarity.compactIvfIndex(spark, root)
    assert(!Similarity.appendToIvfIndex(spark, root, odd, "vec_id", "embedding",
      batchId = Some("batch-7")), "replay after compact must still be skipped")
    assert(Similarity.readIvfIndex(spark, root).cells.count() == rows)
  }

  test("CAS rivalry: a rival commit between load and CAS is retried, both appends land") {
    val root = tmpDir("ixc-rival-")
    Similarity.writeIvfIndex(Similarity.buildIvfIndexSampled(
      emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding", nlist = 8), root)
    val oddLow = emb.where(col("vec_id") % 2 === 1 && col("vec_id") < 50)
    val oddHigh = emb.where(col("vec_id") % 2 === 1 && col("vec_id") >= 50)
    // the hook fires inside the outer append's commit attempt and lands a
    // RIVAL append first (hook disarms itself to avoid recursion), so the
    // outer CAS loses version v and must retry at v+1
    var armed = true
    IndexCommit.testBeforeCommit = () => {
      if (armed) {
        armed = false
        Similarity.appendToIvfIndex(spark, root, oddHigh, "vec_id", "embedding",
          batchId = Some("rival"))
        ()
      }
    }
    try assert(Similarity.appendToIvfIndex(spark, root, oddLow,
      "vec_id", "embedding", batchId = Some("loser")))
    finally IndexCommit.testBeforeCommit = () => ()
    val st = IndexCommit.load(root).get
    assert(st.batchIds == Set("rival", "loser"), st.batchIds.toString)
    assert(st.dirs.size == 3, s"base + two delta trees: ${st.dirs}")
    // every odd id is searchable exactly once
    val ids = Similarity.readIvfIndex(spark, root).cells
      .select("nid").collect().map(_.getLong(0)).toSeq
    assert(ids.distinct.size == ids.size, "no duplicate rows under rivalry")
    assert(ids.toSet == emb.collect().map(_.getLong(0)).toSet)
  }

  test("pre-pointer IVF index: readable, maintenance bootstraps the log") {
    val root = tmpDir("ixc-legacy-")
    val idx = Similarity.buildIvfIndexSampled(emb, "vec_id", "embedding", nlist = 8)
    // write the r11 (pointer-free) layout by hand
    idx.centroids.write.parquet(s"$root/centroids")
    idx.cells.write.partitionBy("cell").parquet(s"$root/cells")
    import spark.implicits._
    Seq(idx.cells.schema("nid").dataType.catalogString)
      .toDF("id_type").write.parquet(s"$root/params")
    assert(IndexCommit.load(root).isEmpty)
    val legacy = searchSet(root) // legacy fallback read
    assert(legacy.nonEmpty)
    // first maintenance op bootstraps version 0 around the legacy tree
    Similarity.compactIvfIndex(spark, root)
    val st = IndexCommit.load(root).get
    assert(st.version >= 1 && st.dirs.size == 1 && st.dirs.head.startsWith("cells-c"))
    assert(searchSet(root) == legacy)
  }

  test("rebuild into a pre-pointer index never overwrites the bare tree's bytes") {
    val root = tmpDir("ixc-prerebuild-")
    val idx = Similarity.buildIvfIndexSampled(emb, "vec_id", "embedding", nlist = 8)
    idx.centroids.write.parquet(s"$root/centroids")
    idx.cells.write.partitionBy("cell").parquet(s"$root/cells")
    import spark.implicits._
    Seq(idx.cells.schema("nid").dataType.catalogString)
      .toDF("id_type").write.parquet(s"$root/params")
    def bareFiles(): Set[String] = {
      val d = new java.io.File(s"$root/cells")
      d.listFiles().map(_.getName).toSet
    }
    val before = bareFiles()
    // rebuild IN PLACE with only the even half: the first-build path loses
    // the bare-name rename (the pre-pointer tree owns it) and must commit
    // its staged tree as a new version instead of clobbering the bare bytes
    Similarity.writeIvfIndex(Similarity.buildIvfIndexSampled(
      emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding", nlist = 8), root)
    assert(bareFiles() == before,
      "the pre-pointer bare tree's files must be byte-untouched by the rebuild")
    val st = IndexCommit.load(root).get
    assert(st.dirs.size == 1 && st.dirs.head.startsWith("cells-s"),
      s"latest version must reference the staged rebuild tree, got ${st.dirs}")
    val nids = searchSet(root).map(_._2)
    assert(nids.nonEmpty && nids.forall(_ % 2 == 0),
      "searches must see ONLY the rebuilt (even-id) corpus, never a mix")
  }

  test("vacuum grace period: recent staged/orphan trees survive, stale ones are reclaimed") {
    val root = tmpDir("ixc-grace-")
    buildAppended(root)
    // a staged tree of an in-flight compact looks like an orphan until its
    // CAS lands — a graced vacuum must not eat it
    val staged = new java.io.File(s"$root/cells-c99-feedbeef")
    assert(staged.mkdirs())
    java.nio.file.Files.write(staged.toPath.resolve("part-0"), Array[Byte](1, 2, 3))
    val graced = Similarity.vacuumIvfIndex(spark, root, graceMs = 3600L * 1000)
    assert(!graced.contains("cells-c99-feedbeef"),
      s"grace period must protect the fresh staged tree, deleted: $graced")
    assert(staged.exists())
    val eager = Similarity.vacuumIvfIndex(spark, root)
    assert(eager.contains("cells-c99-feedbeef"),
      s"grace 0 must reclaim the orphan, deleted: $eager")
    assert(!staged.exists())
  }

  test("LSH: incremental build + compact is bit-identical to one-pass, one file per (tbl,bucket)") {
    val root = tmpDir("ixc-lsh-")
    Similarity.writeLshIndex(Similarity.buildLshIndex(
      emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding", dim = 64), root)
    assert(Similarity.appendToLshIndex(spark, root,
      emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding",
      batchId = Some("b1")))
    assert(!Similarity.appendToLshIndex(spark, root,
      emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding",
      batchId = Some("b1")), "LSH append replay must be skipped")
    def lshSearch(): Set[(Long, Long, Long)] =
      Similarity.searchLshIndexAt(spark, root, emb.where(col("vec_id") < 3),
        "vec_id", "embedding", k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val onePass = Similarity.searchLshIndex(
      Similarity.buildLshIndex(emb, "vec_id", "embedding", dim = 64),
      emb.where(col("vec_id") < 3), "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(lshSearch() == onePass,
      "incremental LSH must equal the single-pass build (positional hyperplanes)")
    Similarity.compactLshIndex(spark, root)
    val st = IndexCommit.load(root).get
    assert(st.dirs.size == 1 && st.dirs.head.startsWith("buckets-c"))
    assert(lshSearch() == onePass, "LSH compaction must never change results")
    // one file per (tbl,bucket) leaf in the compacted tree
    def leaves(f: java.io.File): Seq[java.io.File] =
      f.listFiles().toSeq.filter(_.isDirectory).flatMap(d =>
        if (d.getName.startsWith("bucket=")) Seq(d) else leaves(d))
    val tree = new java.io.File(root, st.dirs.head)
    val counts = leaves(tree).map(_.listFiles()
      .count(f => f.getName.endsWith(".parquet")))
    assert(counts.nonEmpty && counts.forall(_ == 1),
      s"one file per (tbl,bucket) expected: $counts")
    val dead = Similarity.vacuumLshIndex(spark, root)
    assert(dead.size == 2, s"base + delta reclaimed: $dead")
    assert(lshSearch() == onePass)
  }

  test("media library: compact re-applies the df cap GLOBALLY across appended slices") {
    import spark.implicits._
    // payload shared verbatim by every doc ⇒ its chunks' df == corpus size.
    // maxDf = 3: within each 3-doc slice the shared chunks pass the cap,
    // across the two slices df=6 > 3 — exactly the per-slice-cap leak the
    // compaction contract closes.
    val mk = (id: Long) => (id, ("COMMON-PAYLOAD-0123456789abcdef" * 4).getBytes("UTF-8"))
    val sliceA = (0L until 3L).map(mk).toDF("media_id", "payload")
    val sliceB = (3L until 6L).map(mk).toDF("media_id", "payload")
    val root = tmpDir("ixc-media-")
    Multimodal.writeMediaLibraryIndex(sliceA, "media_id", "payload", root,
      window = 8, divisor = 16, maxDf = 3, nBuckets = 8)
    assert(Multimodal.appendToMediaLibraryIndex(spark, root, sliceB,
      "media_id", "payload", batchId = Some("s2")))
    assert(!Multimodal.appendToMediaLibraryIndex(spark, root, sliceB,
      "media_id", "payload", batchId = Some("s2")), "media replay must be skipped")
    val probe = sliceA.limit(1)
    def probed(): Long = Multimodal.mediaDedupProbeAt(spark, root, probe,
      "media_id", "payload", minShared = 1).count()
    assert(probed() > 0, "pre-compact: shared chunks survive per-slice caps and join")
    Multimodal.compactMediaLibraryIndex(spark, root)
    // globally df=6 > maxDf=3 ⇒ the shared chunks are dropped; the probe
    // tightens to what a fresh build over the union produces
    val freshRoot = tmpDir("ixc-media-fresh-")
    Multimodal.writeMediaLibraryIndex(sliceA.unionByName(sliceB),
      "media_id", "payload", freshRoot, window = 8, divisor = 16,
      maxDf = 3, nBuckets = 8)
    val fresh = Multimodal.mediaDedupProbeAt(spark, freshRoot, probe,
      "media_id", "payload", minShared = 1).count()
    assert(probed() == fresh,
      s"compacted probe must equal a fresh global build: ${probed()} vs $fresh")
    assert(probed() == 0, "this fixture's shared chunks must be globally capped away")
    val dead = Multimodal.vacuumMediaLibraryIndex(spark, root)
    assert(dead.size == 2, s"base + slice reclaimed: $dead")
  }

  test("media library rebuild with new chunk params: probes use the NEW divisor (params memo safe)") {
    import spark.implicits._
    // r18 memoizes the immutable params sidecar by path; a REBUILD commits a
    // NEW generation-unique sidecar, so probes must pick up the new divisor
    // through the pointer, never a stale memo entry
    val docs = (0L until 6L).map(i =>
      (i, (s"payload-$i-" + "x" * 200).getBytes("UTF-8"))).toDF("media_id", "payload")
    val root = tmpDir("ixc-media-params-")
    Multimodal.writeMediaLibraryIndex(docs, "media_id", "payload", root,
      window = 8, divisor = 16, maxDf = 64, nBuckets = 8)
    val probe = docs.limit(2)
    def viaIndex() = Multimodal.mediaDedupProbeAt(spark, root, probe,
      "media_id", "payload", minShared = 1)
      .as[(Long, Long, Long)].collect().toSet
    def inMemory(divisor: Int) = Multimodal.mediaDedupProbe(
      graft.operators.Multimodal.cdcChunkHashes(docs, "media_id", "payload",
        window = 8, divisor = divisor, maxDf = 64)
        .select(col("media_id").as("existing_id"), col("ch")),
      probe, "media_id", "payload", window = 8, divisor = divisor,
      minShared = 1).as[(Long, Long, Long)].collect().toSet
    assert(viaIndex() === inMemory(16))
    // rebuild the SAME dir with a different divisor: the probe must chunk
    // with 32 (sidecar of the new generation), not a memoized 16
    Multimodal.writeMediaLibraryIndex(docs, "media_id", "payload", root,
      window = 8, divisor = 32, maxDf = 64, nBuckets = 8)
    assert(viaIndex() === inMemory(32),
      "probe after rebuild must use the rebuilt generation's divisor")
  }

  test("media library deleted out of band and rebuilt at the same path: probes see the new params") {
    import spark.implicits._
    // a FIRST build registers the bare `params` sidecar name; deleting the
    // directory and building again writes that same name with other
    // params, so a probe in the same JVM must not serve the memoized row.
    // Edited copies of one random payload: how many chunks they share
    // depends on the divisor.
    val base = Array.fill(600)(0.toByte)
    new scala.util.Random(7).nextBytes(base)
    val docs = (0L until 6L).map { i =>
      val b = base.clone()
      (0 until 4).foreach(j => b(i.toInt * 90 + j) = (b(i.toInt * 90 + j) + 1).toByte)
      (i, b)
    }.toDF("media_id", "payload")
    val root = tmpDir("ixc-media-oob-")
    def build(divisor: Int): Unit = Multimodal.writeMediaLibraryIndex(docs, "media_id",
      "payload", root, window = 8, divisor = divisor, maxDf = 64, nBuckets = 8)
    val probe = docs.limit(2)
    def viaIndex() = Multimodal.mediaDedupProbeAt(spark, root, probe,
      "media_id", "payload", minShared = 1)
      .as[(Long, Long, Long)].collect().toSet
    def inMemory(divisor: Int) = Multimodal.mediaDedupProbe(
      Multimodal.cdcChunkHashes(docs, "media_id", "payload",
        window = 8, divisor = divisor, maxDf = 64)
        .select(col("media_id").as("existing_id"), col("ch")),
      probe, "media_id", "payload", window = 8, divisor = divisor,
      minShared = 1).as[(Long, Long, Long)].collect().toSet
    build(16)
    assert(viaIndex() === inMemory(16))
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(root), true))
    build(32)
    assert(inMemory(32) != inMemory(16), "fixture: the two divisors must probe differently")
    assert(viaIndex() === inMemory(32),
      "probe after an out-of-band delete and rebuild must use the new build's divisor")
  }

  test("appended IVF index: partition pruning engages on EVERY live tree") {
    // the 100 TB claim behind the union read: a probe filter pushes through
    // the tree union into each FileSourceScanExec, so base AND delta trees
    // plan only the probed cell=N/ directories
    val root = tmpDir("ixc-prune-")
    buildAppended(root)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = Similarity.searchIvfIndexAt(spark, root,
        emb.where(col("vec_id") < 2), "vec_id", "embedding", k = 5, nprobe = 2)
      val scans = q.queryExecution.executedPlan.collect {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec
          if sc.relation.location.rootPaths.exists(_.toString.contains("/cells")) => sc
      }
      assert(scans.size == 2, s"base + delta tree scans expected: ${scans.size}")
      scans.foreach { sc =>
        val dirs = sc.selectedPartitions.toPartitionArray.toSeq
          .map(_.filePath.toString.split("/").reverse.find(_.startsWith("cell=")).get)
          .toSet
        assert(dirs.nonEmpty && dirs.size <= 2 * 2,
          s"each tree must plan only probed cells: $dirs")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("drift probe: an in-distribution append reads ~0, a shifted batch is flagged") {
    import spark.implicits._
    // strongly clustered corpus: 4 clusters on distinct one-hot axes with a
    // small deterministic perturbation — the quantizer's centroids sit on
    // the cluster means, so in-distribution assignment cosine is ~1
    def clustered(ids: Range): org.apache.spark.sql.DataFrame =
      ids.map { i =>
        val axis = (i % 4) * 16
        val v = Array.fill(64)(0.0f)
        v(axis) = 1.0f
        v(axis + 1 + (i % 5)) = 0.1f
        (i.toLong, v.toSeq)
      }.toDF("vec_id", "embedding")
    val root = tmpDir("ixc-drift-")
    Similarity.writeIvfIndex(Similarity.buildIvfIndexSampled(
      clustered(0 until 64), "vec_id", "embedding", nlist = 4), root)
    // append 1: more members of the SAME clusters — the distribution the
    // quantizer trained on
    Similarity.appendToIvfIndex(spark, root, clustered(64 until 96),
      "vec_id", "embedding")
    // append 2: a SHIFTED batch — spikes on axes no cluster ever used are
    // near-orthogonal to every centroid (low best-cosine), the canonical
    // distribution move
    val shifted = (1000 until 1020).map { i =>
      val v = Array.fill(64)(0.0f)
      v((i % 4) * 16 + 8) = 1.0f
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    Similarity.appendToIvfIndex(spark, root, shifted, "vec_id", "embedding")
    val report = Similarity.ivfDrift(spark, root)
      .orderBy("version").collect()
    assert(report.length == 2, report.mkString(","))
    val inDist = report(0)
    val moved = report(1)
    assert(!inDist.isNullAt(3), "build baseline must be present")
    val driftIn = inDist.getDouble(4)
    val driftMoved = moved.getDouble(4)
    assert(math.abs(driftIn) < 0.2,
      s"in-distribution append must sit near the baseline: $driftIn")
    assert(driftMoved > 0.5,
      s"a shifted batch must be clearly flagged: $driftMoved")
    // SQL surface reads the same report
    graft.sql.GraftFunctions.register(spark)
    val viaSql = spark.sql(s"SELECT * FROM graft_sim_index_drift('$root')")
      .orderBy("version").collect()
    assert(viaSql.map(_.getDouble(4)).toSeq == report.map(_.getDouble(4)).toSeq)
    // a REBUILD starts a new generation: the old generation's appends must
    // drop from the report (their means would compare against a baseline
    // whose quantizer no longer serves them), and a post-rebuild append
    // reports against the NEW baseline
    Similarity.writeIvfIndex(Similarity.buildIvfIndexSampled(
      clustered(0 until 96), "vec_id", "embedding", nlist = 4), root)
    assert(Similarity.ivfDrift(spark, root).count() == 0L,
      "pre-rebuild appends must not report against the new baseline")
    Similarity.appendToIvfIndex(spark, root, clustered(96 until 112),
      "vec_id", "embedding")
    val post = Similarity.ivfDrift(spark, root).collect()
    assert(post.length == 1 && math.abs(post.head.getDouble(4)) < 0.2,
      post.mkString(","))
  }

  test("persisted MinHash dedup index: probe == in-memory, pruned scan, replay, compaction-invariant") {
    import graft.operators.Dedup
    val docs = {
      Fixtures.tune(spark)
      spark.read.parquet(sf("documents"))
    }
    val half = docs.where(col("doc_id") % 2 === 0)
    val probeDocs = docs.where(col("doc_id") % 2 === 1).limit(40)
    val root = tmpDir("ixc-minhash-")
    Dedup.writeMinHashIndex(half.where(col("doc_id") % 4 === 0),
      "doc_id", "text", root, nBuckets = 16)
    assert(Dedup.appendToMinHashIndex(spark, root,
      half.where(col("doc_id") % 4 === 2), "doc_id", "text", batchId = Some("s2")))
    assert(!Dedup.appendToMinHashIndex(spark, root,
      half.where(col("doc_id") % 4 === 2), "doc_id", "text", batchId = Some("s2")),
      "minhash append replay must be skipped")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // in-memory twin: per-slice-capped signatures, like the two appends
    val mem = Dedup.buildMinHashIndex(half.where(col("doc_id") % 4 === 0), "doc_id", "text")
      .unionByName(Dedup.buildMinHashIndex(half.where(col("doc_id") % 4 === 2), "doc_id", "text"))
    val expected = pairs(Dedup.probeMinHashIndex(mem, probeDocs, "doc_id", "text"))
    val got = Dedup.probeMinHashIndexAt(spark, root, probeDocs, "doc_id", "text")
    assert(pairs(got) == expected, "persisted probe must equal the in-memory probe")
    assert(expected.nonEmpty, "fixture must produce candidates")
    // plan: the index never shuffles (broadcast probe) and scans only the
    // probed (band, bucket) partitions — across BOTH the base and delta tree
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val again = Dedup.probeMinHashIndexAt(spark, root, probeDocs, "doc_id", "text")
      val scans = again.queryExecution.executedPlan.collect {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec
          if sc.relation.location.rootPaths.exists(_.toString.contains("/sigs")) => sc
      }
      assert(scans.size == 2, s"base + delta tree scans expected: ${scans.size}")
      val parts = scans.flatMap(_.selectedPartitions.toPartitionArray.toSeq)
        .map(_.filePath.toString)
      assert(parts.nonEmpty && parts.forall(_.contains("/band=")),
        "scans must plan partition directories only")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // compaction: layout-only, results identical; vacuum reclaims
    Dedup.compactMinHashIndex(spark, root)
    assert(pairs(Dedup.probeMinHashIndexAt(spark, root, probeDocs, "doc_id", "text"))
      == expected, "minhash compaction must never change probe results")
    val st = IndexCommit.load(root).get
    assert(st.dirs.size == 1 && st.dirs.head.startsWith("sigs-c"))
    assert(Dedup.vacuumMinHashIndex(spark, root).size == 2)
    assert(pairs(Dedup.probeMinHashIndexAt(spark, root, probeDocs, "doc_id", "text"))
      == expected)
  }

  test("rival compact mid-rewrite aborts loudly instead of duplicating rows") {
    val root = tmpDir("ixc-rivalcompact-")
    buildAppended(root)
    val before = searchSet(root)
    // the hook fires inside the loser's commit attempt and lands a COMPLETE
    // rival compact first (disarming itself) — the loser's source trees have
    // left the committed set, so committing its target would put every row
    // in the index twice; it must abort and delete the staged tree
    var armed = true
    IndexCommit.testBeforeCommit = () => {
      if (armed) { armed = false; Similarity.compactIvfIndex(spark, root) }
    }
    val e = intercept[graft.meta.ConcurrentCommitException] {
      try Similarity.compactIvfIndex(spark, root)
      finally IndexCommit.testBeforeCommit = () => ()
    }
    assert(e.getMessage.contains("rival compact"), e.getMessage)
    // committed state is the rival's fold; no row appears twice
    val st = IndexCommit.load(root).get
    assert(st.dirs.size == 1 && st.dirs.head.startsWith("cells-c"), st.dirs.toString)
    val ids = Similarity.readIvfIndex(spark, root).cells
      .select("nid").collect().map(_.getLong(0)).toSeq
    assert(ids.distinct.size == ids.size, "no duplicate rows after the abort")
    assert(searchSet(root) == before, "search results unchanged")
    // the loser's staged tree is gone: everything on disk is referenced by
    // some commit (the pre-compact trees stay until vacuum, as documented)
    val referenced = IndexCommit.history(root).flatMap(_.dirs).toSet
    val onDisk = new java.io.File(root).listFiles()
      .filter(_.isDirectory).map(_.getName)
      .filter(n => n == "cells" || n.startsWith("cells-")).toSet
    assert(onDisk.subsetOf(referenced),
      s"staged tree must be deleted on abort: ${onDisk.diff(referenced)}")
  }

  test("index time travel: a version pins the search to that commit's snapshot") {
    val root = tmpDir("ixc-timetravel-")
    Similarity.writeIvfIndex(Similarity.buildIvfIndexSampled(
      emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding", nlist = 8), root)
    val atBuild = searchSet(root)
    Similarity.appendToIvfIndex(spark, root,
      emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding")
    val atAppend = searchSet(root)
    assert(atAppend != atBuild, "the append must change live results")
    // version 0 = the build: yesterday's search reproduces exactly
    def searchAt(v: Long) = Similarity.searchIvfIndexAt(spark, root,
        emb.where(col("vec_id") < 3), "vec_id", "embedding", k = 5,
        nprobe = 3, version = Some(v))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(searchAt(0L) == atBuild)
    assert(searchAt(1L) == atAppend)
    // compaction changes the layout, not any version's results — and the
    // PRE-compact versions stay readable (trees live until vacuum)
    Similarity.compactIvfIndex(spark, root)
    assert(searchAt(0L) == atBuild && searchAt(1L) == atAppend)
    assert(searchAt(2L) == atAppend && searchSet(root) == atAppend)
    // vacuum reclaims the superseded trees: the LATEST version survives,
    // time travel to reclaimed versions is gone (the documented contract)
    Similarity.vacuumIvfIndex(spark, root)
    assert(searchSet(root) == atAppend)
    // an unknown version fails loudly, naming the describe surface
    val e = intercept[IllegalArgumentException] {
      Similarity.readIvfIndex(spark, root, version = Some(99L))
    }
    assert(e.getMessage.contains("does not exist"), e.getMessage)
  }

  test("rebuild racing an append aborts on the generation fence (no stale-quantizer rows)") {
    val root = tmpDir("ixc-fence-")
    Similarity.writeIvfIndex(Similarity.buildIvfIndexSampled(
      emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding", nlist = 8), root)
    // the hook fires inside the append's commit attempt and lands a COMPLETE
    // REBUILD first (different quantizer: nlist = 4) — the append's cell
    // assignments were computed against the OLD centroids, so committing
    // them onto the new index would silently mix quantizer generations
    var armed = true
    IndexCommit.testBeforeCommit = () => {
      if (armed) {
        armed = false
        Similarity.writeIvfIndex(Similarity.buildIvfIndexSampled(
          emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding", nlist = 4), root)
      }
    }
    val e = intercept[graft.meta.ConcurrentCommitException] {
      try Similarity.appendToIvfIndex(spark, root,
        emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding")
      finally IndexCommit.testBeforeCommit = () => ()
    }
    assert(e.getMessage.contains("rebuilt under this append"), e.getMessage)
    // the committed state is the rebuild alone; the staged stale tree is gone
    val st = IndexCommit.load(root).get
    assert(st.dirs.size == 1 && st.dirs.head.startsWith("cells-b"), st.dirs.toString)
    val referenced = IndexCommit.history(root).flatMap(_.dirs).toSet
    val onDisk = new java.io.File(root).listFiles()
      .filter(_.isDirectory).map(_.getName)
      .filter(n => n == "cells" || n.startsWith("cells-")).toSet
    assert(onDisk.subsetOf(referenced),
      s"staged tree must be deleted on abort: ${onDisk.diff(referenced)}")
    // a RE-RUN append (deriving against the new generation) succeeds
    assert(Similarity.appendToIvfIndex(spark, root,
      emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding"))
    assert(searchSet(root).nonEmpty)
  }

  test("sidecars ride the commit: rebuild versions them, old generation stays readable until vacuum") {
    val root = tmpDir("ixc-sidecar-")
    buildAppended(root)
    val snap0 = IndexCommit.readSnapshot(root, "cells")
    // first build uses the bare legacy names (pre-pointer tooling compat)
    assert(snap0.sidecar("centroids").endsWith("/centroids"))
    val cents0 = spark.read.parquet(snap0.sidecar("centroids"))
      .collect().map(_.getLong(0)).toSet
    // rebuild with a DIFFERENT quantizer: sidecars land under fresh names,
    // the pointer flip publishes trees + sidecars as one snapshot
    Similarity.writeIvfIndex(Similarity.buildIvfIndexSampled(
      emb, "vec_id", "embedding", nlist = 4), root)
    val snap1 = IndexCommit.readSnapshot(root, "cells")
    assert(snap1.sidecars("centroids").startsWith("centroids-r"),
      snap1.sidecars.toString)
    assert(spark.read.parquet(snap1.sidecar("centroids")).count() == 4L)
    // the OLD generation's sidecars are untouched: a search planned against
    // the pre-rebuild snapshot keeps its centroids AND its trees
    assert(spark.read.parquet(snap0.sidecar("centroids"))
      .collect().map(_.getLong(0)).toSet == cents0)
    assert(snap0.dirs.forall(d => new java.io.File(d).exists()))
    // searches against the live index use the new quantizer end to end
    assert(searchSet(root).nonEmpty)
    // vacuum reclaims the superseded generation: old trees AND old sidecars
    val dead = Similarity.vacuumIvfIndex(spark, root)
    assert(dead.contains("centroids") && dead.contains("params") &&
      dead.contains("drift"), s"vacuum must reclaim superseded sidecars: $dead")
    assert(!new java.io.File(snap0.sidecar("centroids")).exists())
    assert(new java.io.File(snap1.sidecar("centroids")).exists())
    assert(searchSet(root).nonEmpty, "the live generation survives vacuum")
  }

  test("MinHash params rebuild: probes resolve the new generation through the pointer") {
    import graft.operators.Dedup
    import spark.implicits._
    val docs = (0 until 30).map { i =>
      (i.toLong, (0 until 24).map(j => s"w${i % 3}t$j").mkString(" "))
    }.toDF("doc_id", "text")
    val root = tmpDir("ixc-mhrebuild-")
    Dedup.writeMinHashIndex(docs.where(col("doc_id") % 2 === 0),
      "doc_id", "text", root, numHashes = 16, bands = 4, nBuckets = 8)
    val probe = docs.where(col("doc_id") % 2 === 1)
    val before = Dedup.probeMinHashIndexAt(spark, root, probe, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(before.nonEmpty)
    // rebuild with DIFFERENT banding: the probe must sign with the new
    // params against the new trees — one consistent snapshot
    Dedup.writeMinHashIndex(docs.where(col("doc_id") % 2 === 0),
      "doc_id", "text", root, numHashes = 16, bands = 8, nBuckets = 8)
    val snap = IndexCommit.readSnapshot(root, "sigs")
    assert(snap.sidecars("params").startsWith("params-r"))
    val after = Dedup.probeMinHashIndexAt(spark, root, probe, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // same candidate pairs for this synthetic corpus (identical texts
    // collide under any banding) — the point is the probe RAN consistently
    // against the 8-band generation
    assert(after == before)
    val sigs = spark.read.schema(
        spark.read.parquet(snap.dirs.head).schema).parquet(snap.dirs.head)
    assert(sigs.select("band").distinct().count() == 8L,
      "probe must run against the rebuilt 8-band trees")
  }

  test("persisted PQ index: append bit-equal to one-pass, replay skip, compact-invariant, vacuum, time travel") {
    import graft.operators.Similarity
    val root = tmpDir("ixc-pq-")
    val even = emb.where(col("vec_id") % 2 === 0)
    val books = Similarity.pqCodebooks(even, "vec_id", "embedding", m = 8, ksub = 16)
    Similarity.writePqIndex(Similarity.PqIndex(
      Similarity.pqBooksToDF(spark, books),
      Similarity.pqEncode(even, "vec_id", "embedding", books)
        .select(col("vec_id").as("nid"), col("codes"))), root)
    val q = emb.where(col("vec_id") < 3)
    def res(v: Option[Long] = None) = Similarity.searchPqIndexAt(
        spark, root, q, "vec_id", "embedding", k = 5, version = v)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val atBuild = res()
    assert(Similarity.appendToPqIndex(spark, root,
      emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding",
      batchId = Some("odd")))
    // encoding is deterministic per row: the appended index must score
    // bit-identically to a one-pass encode of the FULL corpus (same books)
    val onePass = Similarity.pqTopK(emb, q, "vec_id", "embedding", k = 5, books)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val appended = res()
    assert(appended == onePass && appended != atBuild)
    // replay skip, time travel, compact invariance, vacuum
    assert(!Similarity.appendToPqIndex(spark, root,
      emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding",
      batchId = Some("odd")))
    assert(res(Some(0L)) == atBuild, "version 0 must reproduce the build")
    Similarity.compactPqIndex(spark, root)
    assert(res() == appended, "compaction must never change search results")
    assert(IndexCommit.load(root).get.dirs.size == 1)
    assert(Similarity.vacuumPqIndex(spark, root).nonEmpty)
    assert(res() == appended)
  }

  test("persisted IVF-PQ: inline-equal, append bit-equal to one-pass, pruned scan, replay, compact, time travel") {
    import graft.operators.Similarity
    val root = tmpDir("ixc-ivfpq-")
    val even = emb.where(col("vec_id") % 2 === 0)
    val cents = Similarity.kmeansCentroids(even, "vec_id", "embedding", nlist = 8)
    val books = Similarity.pqCodebooks(even, "vec_id", "embedding", m = 8, ksub = 16)
    Similarity.writeIvfPqIndex(even, "vec_id", "embedding", root, cents, books)
    val q = emb.where(col("vec_id") < 3)
    def res(v: Option[Long] = None) = Similarity.searchIvfPqIndexAt(
        spark, root, q, "vec_id", "embedding", k = 5, nprobe = 3, version = v)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def inline(corpus: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqTopK(corpus, q, "vec_id", "embedding", k = 5,
        cents, books, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // persisted == inline under the same quantizers
    val atBuild = res()
    assert(atBuild == inline(even) && atBuild.nonEmpty)
    // append: assignment + encoding deterministic per row => union one-pass
    assert(Similarity.appendToIvfPqIndex(spark, root,
      emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding",
      batchId = Some("odd")))
    assert(res() == inline(emb) && res() != atBuild)
    assert(!Similarity.appendToIvfPqIndex(spark, root,
      emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding",
      batchId = Some("odd")), "replayed batch id must be skipped")
    assert(res(Some(0L)) == atBuild, "version 0 must reproduce the build")
    // the probed cells push as a static partition filter into EACH tree's
    // scan (base + delta both plan only probed cell=N/ directories)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Similarity.searchIvfPqIndexAt(spark, root, q,
        "vec_id", "embedding", k = 5, nprobe = 2)
        .queryExecution.executedPlan
      val scans = plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains("pqcells")) => f
      }
      assert(scans.size == 2, s"base + delta scans expected: ${scans.size}")
      scans.foreach { sc =>
        val dirs = sc.selectedPartitions.toPartitionArray.toSeq
          .map(_.filePath.toString.split("/").reverse.find(_.startsWith("cell=")).get)
          .toSet
        // 3 queries x nprobe 2 = at most 6 of the 8 cells planned
        assert(dirs.nonEmpty && dirs.size <= 3 * 2,
          s"each tree must plan only probed cells: $dirs")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val appended = res()
    Similarity.compactIvfPqIndex(spark, root)
    assert(res() == appended, "compaction must never change search results")
    assert(IndexCommit.load(root).get.dirs.size == 1)
    assert(Similarity.vacuumIvfPqIndex(spark, root).nonEmpty)
    assert(res() == appended)
  }

  test("rebuild into a live index dir commits a fresh tree (searches keep their snapshot)") {
    val root = tmpDir("ixc-rebuild-")
    buildAppended(root)
    val preTrees = IndexCommit.resolveDirs(root, "cells")
    Similarity.writeIvfIndex(
      Similarity.buildIvfIndexSampled(emb, "vec_id", "embedding", nlist = 8), root)
    val st = IndexCommit.load(root).get
    assert(st.dirs.size == 1 && st.dirs.head.startsWith("cells-b"),
      s"rebuild must land in a fresh versioned tree: ${st.dirs}")
    assert(st.batchIds.isEmpty, "rebuild must reset the replay guard")
    assert(preTrees.forall(t => new java.io.File(t).exists()),
      "pre-rebuild trees must survive until vacuum")
    assert(searchSet(root).nonEmpty)
  }

  test("fuzzy decont index: persisted probe ≡ in-memory probe; oversized benchmark fails naming maxBenchSigs") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(sf("documents")).limit(200)
    val bench = docs.where(col("doc_id") % 10 === 0)
    val root = tmpDir("ixc-fuzzy-")
    Dedup.writeFuzzyDecontIndex(bench, "doc_id", "text", root, k = 3,
      numHashes = 16, bands = 4)
    def keyed(df: DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        math.rint(r.getDouble(2) * 1e9) / 1e9)).toSet
    val persisted = keyed(Dedup.decontaminateFuzzyAt(spark, root, docs,
      "doc_id", "text", threshold = 0.4))
    val inMemory = keyed(Dedup.decontaminateFuzzy(docs, bench, "doc_id",
      "text", k = 3, numHashes = 16, bands = 4, threshold = 0.4))
    assert(persisted == inMemory && persisted.nonEmpty)
    // the benchmark side BROADCASTS — past the contract cap the probe must
    // fail fast naming the knob, never OOM the broadcast silently
    val e = intercept[IllegalArgumentException](
      Dedup.decontaminateFuzzyAt(spark, root, docs, "doc_id", "text",
        threshold = 0.4, maxBenchSigs = 1L).collect())
    assert(e.getMessage.contains("maxBenchSigs"))
    val e2 = intercept[IllegalArgumentException](
      Dedup.decontaminateFuzzy(docs, bench, "doc_id", "text",
        maxBenchSigs = 1L).collect())
    assert(e2.getMessage.contains("maxBenchSigs"))
  }
}
