package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{ExceptSortedExpr, GraftShims}
import graft.functions.Portable

/** Deduplication operators for large-scale document pipelines.
  *
  * All four families are declarative DataFrame plans so Catalyst handles
  * pushdown/pruning and every shuffle is an explicit hash aggregation or
  * equi-join on a bounded key — nothing here is an all-pairs comparison.
  * Per-document work is one compiled pass per row: a document's shingles
  * become a sorted array of hashes ([[shingleSets]]) that its signature,
  * its set size and every verified Jaccard read without exploding it.
  *
  *  - exact: one hash-aggregate on sha256(text). O(N) map + 1 shuffle.
  *  - ngramJaccard: inverted-index self-join on shingles. The join key is the
  *    shingle, so co-occurring docs meet on the shuffle; pairs are counted,
  *    never materialized per-token on the driver.
  *  - minHashLsh: MinHash signatures (one md5 per shingle, no gram string,
  *    and a k-member universal-hash family over the doc's hash array)
  *    banded into b groups; candidates = docs sharing a (band, signature)
  *    bucket. At 100 TB the bucket join replaces the quadratic all-pairs
  *    scan; the verify step intersects only the candidate pairs' arrays.
  *  - simHash: 60-bit sign-sum fingerprint per doc; near-dup = small Hamming
  *    distance (joinable by fingerprint bands if needed).
  *
  * [[nearDupClusters]] labels a small edge set in driver memory and a
  * large one in distributed rounds, with the same labels either way.
  *
  * Hashes are md5-based [[Portable]] primitives so an independent SQL engine
  * reproduces every value exactly (the driver's DuckDB oracle does).
  */
object Dedup {

  /** Default document-frequency cap for shingle sets (see
    * [[shingleSets]]): absolute, so it needs no pre-count of the corpus;
    * at web scale 1000 docs sharing a shingle is firmly stop-shingle
    * territory, while small corpora (< 1000 docs) are never affected. */
  val DefaultMaxDf: Long = 1000L

  /** Exact dedup by content hash: one representative (min id) per distinct
    * text + duplicate count. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(sha2(col(textCol).cast("binary"), 256).as("h"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dups"))
      .select(idCol, "h", "dups")

  /** Per-document shingle-hash sets with stop-shingles removed: one row per
    * distinct document id, `hms` = the sorted, distinct [[Portable.uhashBase]]
    * values of its word k-grams ([[Portable.shingleHashes]], one compiled
    * pass per document — no gram string, no exploded row, no shuffle before
    * the per-document merge). Rows sharing an id merge into the union of
    * their sets. Jaccard over
    * hashed shingles is the standard formulation (collisions at 2^-31 are
    * noise); the SQL oracle applies the identical reduction, so results stay
    * bit-equal.
    *
    * The df cap: a shingle in M documents contributes M² rows to any
    * posting-list self-join, so common k-grams ("of the and") make the join
    * quadratic on real corpora even though it is an equi-join. Hashes with
    * document frequency > maxDf are dropped from every set — the heavy set
    * is exact (one hash aggregate over the sets' members) and tiny by
    * construction, so it is collected once and removed per row by binary
    * search. maxDf <= 0 disables the cap. The uncapped sets are
    * [[OpUtil.shared]]-cached: the heavy-set job and every consumer read
    * them, and md5 runs once per shingle. */
  private[graft] def shingleSets(docs: DataFrame, idCol: String, textCol: String,
                                 k: Int, maxDf: Long): DataFrame = {
    val raw = OpUtil.shared(rawShingleSets(docs, idCol, textCol, k))
    if (maxDf <= 0) raw
    else {
      val spark = docs.sparkSession
      import spark.implicits._
      val heavy = raw.select(explode(col("hms")).as("hm"))
        .groupBy("hm").agg(count(lit(1)).as("df"))
        .where(col("df") > maxDf).select("hm").as[Long].collect()
      if (heavy.isEmpty) raw
      else raw.select(col("doc"), GraftShims.column(
        ExceptSortedExpr(GraftShims.expr(col("hms")), heavy.toSeq)).as("hms"))
    }
  }

  /** Uncapped [[shingleSets]]: per-row hash arrays merged per document id. */
  private def rawShingleSets(docs: DataFrame, idCol: String, textCol: String,
                             k: Int): DataFrame =
    OpUtil.rebalance(docs)
      .select(col(idCol).as("doc"), Portable.shingleHashes(col(textCol), k).as("hms"))
      .groupBy("doc").agg(collect_list(col("hms")).as("l"))
      .select(col("doc"), when(size(col("l")) === 1, col("l")(0))
        .otherwise(array_sort(array_distinct(flatten(col("l"))))).as("hms"))

  /** Distinct (doc, hm) posting rows of [[shingleSets]] — one explode of
    * longs, for the callers that join on the shingle hash. */
  private[graft] def cappedShingles(docs: DataFrame, idCol: String, textCol: String,
                                    k: Int, maxDf: Long): DataFrame =
    postings(shingleSets(docs, idCol, textCol, k, maxDf))

  private def postings(sets: DataFrame): DataFrame =
    sets.select(col("doc"), explode(col("hms")).as("hm"))

  /** N-gram (word shingle) Jaccard similarity join: all pairs (i < j) with
    * |shingles_i ∩ shingles_j| / |union| >= threshold.
    *
    * Inverted-index plan: explode distinct shingle hashes, self-join on the
    * hash (equi-join => hash shuffle on an 8-byte key, no cartesian), count
    * matches per pair, combine with per-doc set sizes. */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, threshold: Double = 0.5,
                   maxDf: Long = DefaultMaxDf): DataFrame = {
    val sets = shingleSets(docs, idCol, textCol, k, maxDf)
    val sh = postings(sets)
    // a set's size is its array's length: no per-doc aggregate
    val sizes = sets.select(col("doc"), size(col("hms")).cast("long").as("n"))
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.hm") === col("b.hm") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("i"), col("b.doc").as("j"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.withColumnRenamed("doc", "i").withColumnRenamed("n", "ni"), "i")
      .join(sizes.withColumnRenamed("doc", "j").withColumnRenamed("n", "nj"), "j")
      .withColumn("jaccard", col("inter") / (col("ni") + col("nj") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("i"), col("j"), col("jaccard"))
  }

  /** MinHash signature columns m0..m{numHashes-1}: per doc, min over shingles
    * of universal-hash family member i. One md5 per shingle total — the k
    * family members are arithmetic derivations ([[Portable.uhash]]), not k
    * separate digests, which cuts the dominant cost of signature computation
    * by ~k×. */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, numHashes: Int,
                        maxDf: Long = DefaultMaxDf): DataFrame =
    signatures(shingleSets(docs, idCol, textCol, k, maxDf), numHashes)
      .select(col("doc") +: (0 until numHashes).map(i => col("sig")(i).as(s"m$i")): _*)

  /** (doc, sig) with `sig` the MinHash array, computed per row from the
    * doc's set ([[Portable.minHash]]); a doc with no capped shingle has no
    * signature (there is no minimum over nothing). */
  private def signatures(sets: DataFrame, numHashes: Int): DataFrame =
    sets.where(size(col("hms")) > 0)
      .select(col("doc"), Portable.minHash(col("hms"), numHashes).as("sig"))

  /** MinHash + LSH candidate pairs: signatures banded into `bands` groups of
    * `numHashes/bands` rows; docs sharing any (band, signature) bucket are
    * candidates. Probability a pair with Jaccard j collides:
    * 1 - (1 - j^r)^b — the standard S-curve; 16 hashes / 4 bands puts the
    * knee near j ≈ 0.5. */
  def minHashLshCandidates(docs: DataFrame, idCol: String, textCol: String,
                           k: Int = 3, numHashes: Int = 16, bands: Int = 4,
                           maxDf: Long = DefaultMaxDf): DataFrame =
    bandedCandidates(shingleSets(docs, idCol, textCol, k, maxDf), numHashes, bands)

  /** Banded signature rows (doc, band, sig) — the LSH bucket unit, shared by
    * the one-shot candidate join and the materialized incremental index. */
  private def bandedSignatures(sets: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val bandSigs = (0 until bands).map { b =>
      concat_ws(",", (0 until r).map(i => col("sig")(b * r + i)): _*)
    }
    signatures(sets, numHashes).select(col("doc"),
      posexplode(array(bandSigs: _*)).as(Seq("band", "sig")))
  }

  private def bandedCandidates(sets: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    // NOT shared()-cached (measured r18): the static plan shows the
    // signature subtree once per self-join side, but both sides feed the
    // SAME hashpartitioning(band, sig) exchange, and AQE's runtime stage
    // reuse already executes it once — a materialized cache here traded
    // that free dedup for copy+persist+read machinery and REGRESSED the
    // bench head 0.78 → 0.99 s (reverted; contrast ts_similarity, where
    // the duplicate sits behind a BroadcastExchange boundary stage reuse
    // cannot cross and a shared() cache wins).
    val exploded = bandedSignatures(sets, numHashes, bands)
    exploded.as("a").join(exploded.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("i"), col("b.doc").as("j"))
      .distinct()
  }

  /** Build-once banded MinHash index of a corpus: (doc, band, sig) rows,
    * a plain DataFrame that persists as a table. The universal-hash family is
    * deterministic, so an index built today buckets identically with
    * signatures computed tomorrow — the precondition for incremental dedup. */
  def buildMinHashIndex(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, numHashes: Int = 16, bands: Int = 4,
                        maxDf: Long = DefaultMaxDf): DataFrame =
    bandedSignatures(shingleSets(docs, idCol, textCol, k, maxDf), numHashes, bands)

  /** Broadcast bound of [[probeMinHashIndexAt]]'s incoming signature set
    * (docs × bands rows): past it the probe fails fast naming the knob
    * instead of OOMing the driver mid-broadcast — the
    * [[Multimodal.MaxProbeChunks]] contract applied here. */
  val MaxProbeSigs: Long = 4000000L

  /** Fail-fast ceiling on the benchmark side of the fuzzy decontamination
    * family ([[decontaminateFuzzy]]/[[decontaminateFuzzyAt]]): the
    * benchmark's banded signatures broadcast to every corpus task. */
  val MaxBenchSigs: Long = 4000000L

  /** Persist a banded MinHash dedup index PARTITIONED BY (band, bucket =
    * pmod(hash60(sig), nBuckets)) — the on-disk deployment shape of the
    * incremental-dedup production path ([[buildMinHashIndex]]'s scaladoc:
    * "the index appends, each ingest batch probes"), given the
    * [[graft.operators.Similarity.writeIvfIndex]] treatment: build once
    * over the corpus, probe every ingest batch without ever shuffling the
    * index ([[probeMinHashIndexAt]] prunes to the probed (band, bucket)
    * directories — bounded by bands × nBuckets, never the batch size).
    * Params ride a tiny sidecar so probes and appends can never mismatch
    * (k, numHashes, bands). The sigs tree is registered in an
    * [[IndexCommit]] pointer log: appends and compaction are transactional
    * exactly as the ANN/media indexes' ([[appendToMinHashIndex]] /
    * [[compactMinHashIndex]] / [[vacuumMinHashIndex]]). */
  def writeMinHashIndex(docs: DataFrame, idCol: String, textCol: String,
                        dir: String, k: Int = 3, numHashes: Int = 16,
                        bands: Int = 4, maxDf: Long = DefaultMaxDf,
                        nBuckets: Int = 64): Unit = {
    require(nBuckets >= 1)
    val spark = docs.sparkSession
    val idx = buildMinHashIndex(docs, idCol, textCol, k, numHashes, bands, maxDf)
    // params BEFORE the pointer flip, under a generation-unique name (see
    // Similarity.writeIvfIndex): snapshot readers never pair one build's
    // k/bands with another's sig trees
    import spark.implicits._
    val paramsName = IndexCommit.sidecarName(dir, "params")
    Seq((k, numHashes, bands, maxDf, nBuckets,
        docs.schema(idCol).dataType.catalogString))
      .toDF("k", "num_hashes", "bands", "max_df", "n_buckets", "id_type")
      .write.mode("overwrite").parquet(s"$dir/$paramsName")
    IndexCommit.commitBase(dir, "sigs", Map("params" -> paramsName)) { tree =>
      idx.select(col("doc"), col("sig"), col("band"),
          pmod(Portable.hash60(col("sig")), lit(nBuckets.toLong)).cast("int").as("bucket"))
        .write.mode("overwrite").partitionBy("band", "bucket").parquet(tree)
    }
  }

  /** Union of sigs trees with the partition columns re-read as INT (the
    * types the builder writes, so probe filters compare un-cast and
    * pruning engages). */
  private def readSigTrees(spark: org.apache.spark.sql.SparkSession,
                           dirs: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, StructType}
    val inferred = IndexCommit.inferAcross(spark, dirs).getOrElse(
      spark.read.parquet(dirs.head).schema)
    val fixed = StructType(inferred.map {
      case f if f.name == "band" || f.name == "bucket" =>
        f.copy(dataType = IntegerType)
      case f => f
    })
    dirs.map(d => spark.read.schema(fixed).parquet(d)).reduce(_.unionByName(_))
  }

  /** Incremental maintenance for the persisted dedup index: shingle + sign
    * NEW documents with the params the index was BUILT with (sidecar —
    * an append can never mismatch k/numHashes/bands/buckets) and land them
    * as an immutable delta tree behind one CAS'd pointer commit — the
    * [[graft.operators.Similarity.appendToIvfIndex]] contract (`batchId`
    * replays are skipped, returning false).
    *
    * df-cap semantics (the [[Multimodal.appendToMediaLibraryIndex]]
    * trade, stated plainly): the stop-shingle cap applies WITHIN the
    * appended slice, like it applied within the build corpus — and unlike
    * the media index, compaction CANNOT re-apply it globally, because the
    * cap acts BEFORE signatures (a global re-cap would change existing
    * docs' signatures, which needs their text — a rebuild, not a
    * compaction). A per-slice cap only affects candidate RECALL at the
    * margin (a shingle heavy only across slices still contributes to
    * min-hashes); rebuild on that margin's cadence. */
  def appendToMinHashIndex(spark: org.apache.spark.sql.SparkSession,
                           dir: String, newDocs: DataFrame, idCol: String,
                           textCol: String,
                           batchId: Option[String] = None): Boolean = {
    // params resolve from ONE snapshot whose generation fences the commit:
    // a rebuild landing after this read aborts the append instead of
    // letting old-k/bands signatures onto the new index
    val snap = IndexCommit.readSnapshot(dir, "sigs")
    val p = spark.read.parquet(snap.sidecar("params")).collect().head
    val (k, nh, bands, maxDf, nBuckets) = (p.getAs[Int]("k"),
      p.getAs[Int]("num_hashes"), p.getAs[Int]("bands"),
      p.getAs[Long]("max_df"), p.getAs[Int]("n_buckets"))
    val idType = p.getAs[String]("id_type")
    val typed = newDocs.withColumn(idCol, col(idCol).cast(idType))
    val slice = buildMinHashIndex(typed, idCol, textCol, k, nh, bands, maxDf)
      .select(col("doc"), col("sig"), col("band"),
        pmod(Portable.hash60(col("sig")), lit(nBuckets.toLong)).cast("int").as("bucket"))
    IndexCommit.appendTree(spark, dir, "sigs", batchId,
        derivedFromBase = if (snap.version >= 0) Some(snap.baseVersion) else None) { tree =>
      slice.write.mode("overwrite").partitionBy("band", "bucket").parquet(tree)
    }
  }

  /** Fold the persisted dedup index back to ONE file per (band, bucket) —
    * reader-transparent (one CAS'd pointer flip, rival appends survive).
    * Layout-only: signature rows are untouched (see
    * [[appendToMinHashIndex]] for why a global re-cap is a rebuild, not a
    * compaction), so probe results are identical before and after. */
  def compactMinHashIndex(spark: org.apache.spark.sql.SparkSession,
                          dir: String): Unit =
    IndexCommit.compactTrees(spark, dir, "sigs") { (srcs, target) =>
      readSigTrees(spark, srcs).repartition(col("band"), col("bucket"))
        .write.mode("overwrite").partitionBy("band", "bucket").parquet(target)
    }

  /** Reclaim superseded/orphaned sigs trees — see [[IndexCommit.vacuum]]
    * for the grace-period contract. */
  def vacuumMinHashIndex(spark: org.apache.spark.sql.SparkSession,
                         dir: String, graceMs: Long = 0L): Seq[String] =
    IndexCommit.vacuum(spark, dir, "sigs", graceMs)

  /** [[probeMinHashIndex]] against a PERSISTED index with the
    * [[Multimodal.mediaDedupProbeAt]] plan guarantees: the index NEVER
    * shuffles (the micro-batch-sized probe signatures broadcast), and the
    * index scan plans over ONLY the probed (band, bucket) partitions —
    * bounded by bands × nBuckets by construction, never the batch size
    * (a legal driver collect). Results are identical to the in-memory
    * probe on the same index. Past `maxProbeSigs` signature rows the
    * probe fails fast naming the knob (corpus-vs-corpus jobs belong on
    * [[minHashNearDups]]). */
  def probeMinHashIndexAt(spark: org.apache.spark.sql.SparkSession,
                          dir: String, newDocs: DataFrame, idCol: String,
                          textCol: String,
                          maxProbeSigs: Long = MaxProbeSigs,
                          version: Option[Long] = None): DataFrame = {
    val snap = IndexCommit.readSnapshot(dir, "sigs", version)
    val p = spark.read.parquet(snap.sidecar("params")).collect().head
    val (k, nh, bands, maxDf, nBuckets) = (p.getAs[Int]("k"),
      p.getAs[Int]("num_hashes"), p.getAs[Int]("bands"),
      p.getAs[Long]("max_df"), p.getAs[Int]("n_buckets"))
    val probe = OpUtil.shared(
      buildMinHashIndex(newDocs, idCol, textCol, k, nh, bands, maxDf)
        .select(col("doc").as("incoming"), col("band"), col("sig"),
          pmod(Portable.hash60(col("sig")), lit(nBuckets.toLong)).cast("int").as("bucket")))
    val nSigs = probe.count()
    if (nSigs > maxProbeSigs) throw new IllegalArgumentException(
      s"probeMinHashIndexAt: incoming batch signed to $nSigs rows > " +
        s"maxProbeSigs=$maxProbeSigs — the probe BROADCASTS the incoming " +
        "signatures (micro-batch probes only); raise maxProbeSigs if the " +
        "driver can hold it, or use minHashNearDups for corpus-vs-corpus")
    val probed = probe.select("band", "bucket").distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    val lib = readSigTrees(spark, snap.dirs).where(
      probed.map { case (b, bk) => col("band") === b && col("bucket") === bk }
        .reduceOption(_ || _).getOrElse(lit(false)))
    lib.as("a").join(broadcast(probe).as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc") =!= col("b.incoming"))
      .select(col("a.doc").as("existing"), col("b.incoming").as("incoming"))
      .distinct()
  }

  /** Incremental dedup: probe NEW documents against a [[buildMinHashIndex]]
    * index built with the same (k, numHashes, bands) — distinct (existing,
    * incoming) candidate pairs from a (band, sig) equi-join. Only the new
    * slice is shingled; the existing corpus's text is never re-read. At
    * 100 TB this is the production path for a growing corpus: the index
    * appends, each ingest batch probes, and the full self-join never runs
    * again — [[writeMinHashIndex]] / [[probeMinHashIndexAt]] is that path's
    * persisted, partition-pruned deployment shape. */
  def probeMinHashIndex(index: DataFrame, newDocs: DataFrame,
                        idCol: String, textCol: String,
                        k: Int = 3, numHashes: Int = 16, bands: Int = 4,
                        maxDf: Long = DefaultMaxDf): DataFrame = {
    val probe = bandedSignatures(
      shingleSets(newDocs, idCol, textCol, k, maxDf), numHashes, bands)
    index.as("a").join(probe.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc") =!= col("b.doc"))
      .select(col("a.doc").as("existing"), col("b.doc").as("incoming"))
      .distinct()
  }

  /** Largest symmetric edge set [[nearDupClusters]] labels in driver
    * memory: about 100 bytes a collected edge, so the bound holds the
    * driver-side copy near 20 MB. Above it the distributed rounds run. */
  val LocalClusterMaxEdges: Long = 200000L

  /** Connected components over a near-duplicate pair list — the step every
    * dedup pipeline ends with: assign each document in any pair a cluster id
    * (the smallest doc id reachable through near-dup edges), then keep one
    * representative per cluster. Bounded synchronous min-label propagation:
    * each round every document takes the least label among itself and its
    * neighbours, with an early exit at the fixpoint. Near-dup graphs are
    * near-cliques, so convergence takes O(cluster diameter) rounds (2–3 in
    * practice; a path of length d needs d rounds — bound with `maxIter`,
    * past which the labels are the last round's, not converged).
    *
    * The symmetric edges are materialized once and counted. At most
    * [[LocalClusterMaxEdges]] of them (integral or string ids) are
    * collected and the same rounds run in driver memory — same `maxIter`,
    * same early exit, same seed set, so the labels equal the distributed
    * path's on every input — and a small local frame comes back: one job
    * instead of a cached join and a job per round. A larger edge set runs
    * the rounds distributed, each a pair of bounded-key equi-joins with
    * nothing driver-side but the convergence check. */
  def nearDupClusters(pairs: DataFrame, iCol: String = "i", jCol: String = "j",
                      maxIter: Int = 20): DataFrame =
    nearDupClusters(pairs, iCol, jCol, maxIter, LocalClusterMaxEdges)

  /** [[nearDupClusters]] with the driver-side bound as an argument (0 forces
    * the distributed rounds on any non-empty edge set). */
  private[graft] def nearDupClusters(pairs: DataFrame, iCol: String, jCol: String,
                                     maxIter: Int, localMaxEdges: Long): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    val (edges, edgesRdd) = OpUtil.sharedWithHandle(
      pairs.select(col(iCol).as("a"), col(jCol).as("b"))
        .union(pairs.select(col(jCol).as("a"), col(iCol).as("b")))
        .distinct())
    val a = edges.schema("a")
    val localIds = a.dataType match {
      case LongType | IntegerType | ShortType | ByteType | StringType => true
      case _ => false
    }
    if (localIds && edgesRdd.count() <= localMaxEdges) {
      val rows = edgesRdd.collect().map(_.asInstanceOf[InternalRow])
      edgesRdd.unpersist(blocking = false)
      GraftShims.dfFromInternalRows(pairs.sparkSession,
        localLabels(rows, a.dataType, maxIter),
        StructType(Seq(a.copy(name = "doc"), a.copy(name = "cluster"))))
    } else distributedLabels(edges, maxIter)
  }

  /** The propagation over collected symmetric edges (a, b). Documents are
    * numbered in Spark's order of their ids, so a least label is a least
    * number. A null id joins nothing, as in the distributed rounds: it
    * keeps a null label. */
  private def localLabels(edges: Array[org.apache.spark.sql.catalyst.InternalRow],
                          dt: org.apache.spark.sql.types.DataType,
                          maxIter: Int): Seq[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val linked = edges.filter(e => !e.isNullAt(0) && !e.isNullAt(1))
    val ids = edges.iterator.filterNot(_.isNullAt(0)).map(_.get(0, dt)).toArray.distinct
      .sorted(org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(dt))
    val num = ids.iterator.zipWithIndex.toMap
    val src = linked.map(e => num(e.get(0, dt)))
    val dst = linked.map(e => num(e.get(1, dt)))
    var label = Array.range(0, ids.length)
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      it += 1
      val next = label.clone()
      var e = 0
      while (e < src.length) {
        val l = label(dst(e))
        if (l < next(src(e))) next(src(e)) = l
        e += 1
      }
      converged = java.util.Arrays.equals(next, label)
      label = next
    }
    val nulls = if (edges.exists(_.isNullAt(0))) Seq(new GenericInternalRow(2)) else Nil
    ids.indices.map(v => new GenericInternalRow(Array[Any](ids(v), ids(label(v))))) ++ nulls
  }

  /** The distributed rounds over the cached edges. */
  private def distributedLabels(edges: DataFrame, maxIter: Int): DataFrame = {
    val seed: (DataFrame, org.apache.spark.rdd.RDD[_]) = OpUtil.sharedWithHandle(
      edges.select(col("a").as("doc")).distinct().withColumn("cluster", col("doc")))
    var labels = seed._1
    var labelsRdd = seed._2
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      it += 1
      val nbrMin = edges.join(labels, edges("b") === labels("doc"))
        .groupBy(edges("a").as("ndoc")).agg(min("cluster").as("nc"))
      // The convergence flag rides the label frame itself (labels are
      // monotone non-increasing, so "changed" = neighborhood min beat the
      // current label): materializing the round and checking convergence is
      // ONE job over the new cache — no second join against the old labels.
      val round: (DataFrame, org.apache.spark.rdd.RDD[_]) = OpUtil.sharedWithHandle(
        labels.join(nbrMin, labels("doc") === nbrMin("ndoc"), "left")
          .select(labels("doc"),
            least(labels("cluster"), coalesce(col("nc"), labels("cluster"))).as("cluster"),
            (coalesce(col("nc"), labels("cluster")) < labels("cluster")).as("changed")))
      val next = round._1
      val nextRdd = round._2
      converged = next.where(col("changed")).limit(1).count() == 0
      // previous round's cache is dead the moment `next` is materialized —
      // free it now instead of holding up to maxIter label caches for GC
      labelsRdd.unpersist(blocking = false)
      labels = next.select("doc", "cluster")
      labelsRdd = nextRdd
    }
    labels
  }

  /** Decontamination — the benchmark-overlap rule every training pipeline
    * runs before a model sees the data (the GPT-3 report's 13-gram rule):
    * flag corpus documents sharing at least one word k-gram with any
    * document in `benchmark`, with the count of distinct shared k-grams.
    *
    * Plan at corpus scale: both sides reduce to distinct hashed shingles
    * ([[cappedShingles]] — stop-grams df-capped away, 8-byte join keys), the
    * benchmark's distinct hash set is typically small enough to broadcast,
    * and the result is one hash aggregate per flagged doc. The corpus is
    * never joined to itself — cost is corpus-shingles × lookup. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, k: Int = 8,
                    maxDf: Long = DefaultMaxDf,
                    maxBenchGrams: Long = MaxBenchGrams): DataFrame = {
    val c = cappedShingles(corpus, idCol, textCol, k, maxDf)
    val b = benchGramSet(benchmark, idCol, textCol, k, maxDf, maxBenchGrams)
    // c is distinct (doc, hm), so the per-doc count IS distinct shared grams.
    // b BROADCASTS (benchmark suites only, contract-capped): the corpus gram
    // table — the operator's largest relation — is never shuffled for the
    // join; the only corpus-sized exchange left is the groupBy(doc) over
    // match rows (r17, guide §2.4/§3.1).
    c.join(broadcast(b), "hm").groupBy("doc").agg(count(lit(1)).as("n_shared"))
      .select(col("doc").as(idCol), col("n_shared"))
  }

  /** Fail-fast ceiling on the benchmark gram set [[decontaminate]] /
    * [[decontaminateReport]] broadcast to every corpus task (house style of
    * [[MaxBenchSigs]]): 8-byte gram hashes, so 32M rows is a sub-GB hash
    * relation; a pathological "benchmark" fails loudly naming the knob
    * instead of OOMing the broadcast. */
  val MaxBenchGrams: Long = 32000000L

  /** The benchmark side's distinct capped gram-hash set — exactly
    * `cappedShingles(benchmark, ...).select("hm").distinct()`, derived in
    * ONE linear lineage: the df aggregate that the cap already needs IS the
    * distinct gram table, so `df <= maxDf` replaces the heavy-set job and
    * its per-set filter (r17, §2.4).
    *
    * Every caller broadcasts the result, so the `maxBenchGrams` contract is
    * enforced INLINE while the broadcast's child evaluates — a dedicated
    * count() job cost ~25% of the whole operator at bench scale. The rows
    * leave the df aggregate hash-partitioned by an md5-derived key, so
    * partitions are balanced by construction and a per-partition cap of 2x
    * the fair share fails loudly (naming the knob) before the driver
    * accumulates a pathological "benchmark suite" mid-broadcast. */
  private def benchGramSet(benchmark: DataFrame, idCol: String, textCol: String,
                           k: Int, maxDf: Long, maxBenchGrams: Long): DataFrame = {
    val spark = benchmark.sparkSession
    import spark.implicits._
    val byGram = postings(rawShingleSets(benchmark, idCol, textCol, k))
      .groupBy("hm").agg(count(lit(1)).as("df"))
    val b = (if (maxDf <= 0) byGram else byGram.where(col("df") <= maxDf))
      .select("hm").as[Long]
    b.mapPartitions { it =>
      val ctx = org.apache.spark.TaskContext.get()
      val nParts = if (ctx == null) 1 else math.max(1, ctx.numPartitions())
      val cap = maxBenchGrams / nParts * 2 + 64
      var n = 0L
      it.map { hm =>
        n += 1
        if (n > cap) throw new IllegalArgumentException(
          s"decontaminate: benchmark side exceeds maxBenchGrams=$maxBenchGrams " +
            s"distinct capped grams (partition ${if (ctx == null) -1 else ctx.partitionId()} " +
            s"alone holds > $cap of $nParts balanced partitions) — the " +
            "benchmark gram set BROADCASTS to every corpus task (benchmark " +
            "suites only); raise maxBenchGrams if every executor can hold " +
            "it, or use ngramJaccard for corpus-vs-corpus overlap")
        hm
      }
    }.toDF("hm")
  }

  /** Decontamination via a Bloom sketch of the benchmark's k-grams
    * ([[Sketch.bloomSketch]]): flags corpus docs whose grams hit the sketch.
    * The benchmark collapses to a ≤ `min(m, grams·hashes)`-row slot table
    * that BROADCASTS — the corpus never joins the benchmark relation, which
    * is the shape for a 100 TB corpus screened against a fixed benchmark
    * suite (and the sketch persists: screen tomorrow's crawl without
    * re-reading the benchmarks). Never a false negative relative to
    * [[decontaminate]]'s exact gram match (every truly shared distinct gram
    * is counted); per-gram false positives at the classic Bloom rate, so
    * `n_flagged >= n_shared` with equality at sane `m` (unit-pinned). No df
    * cap needed: the probe is per (doc, gram) against a broadcast — there
    * is no posting-list self-join to blow up. */
  /** FUZZY decontamination: corpus documents near-duplicating any BENCHMARK
    * document at shingle-Jaccard ≥ `threshold` — the MinHash-banded
    * complement of [[decontaminate]]'s exact shared-gram count, for the
    * reworded/partially-copied eval leakage a raw n-gram intersection
    * under-weights. Candidates come from a CROSS-frame (band, sig)
    * equi-join — the benchmark's banded signatures are benchmark-sized and
    * broadcast — and each candidate pair is verified with the true Jaccard
    * by the same per-pair set intersection as [[minHashNearDups]]
    * (linear in the two sets' sizes).
    *
    * @return one row per flagged corpus doc: `(idCol, bench_doc, jaccard)`
    *         with its best-matching benchmark doc (max jaccard, ties to
    *         the smaller benchmark id). */
  def decontaminateFuzzy(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String, k: Int = 3,
                         numHashes: Int = 16, bands: Int = 4,
                         threshold: Double = 0.5,
                         maxDf: Long = DefaultMaxDf,
                         maxBenchSigs: Long = MaxBenchSigs): DataFrame = {
    val bsets = shingleSets(benchmark, idCol, textCol, k, maxDf)
    val bSigs = OpUtil.shared(bandedSignatures(bsets, numHashes, bands))
    fuzzyDecontCore(shingleSets(corpus, idCol, textCol, k, maxDf),
      bSigs, bsets, idCol, numHashes, bands, threshold, maxBenchSigs)
  }

  /** Shared verify-join core of the fuzzy decontamination family: corpus
    * shingle sets vs a (signatures, shingle sets) benchmark artifact — in memory
    * ([[decontaminateFuzzy]]) or from a persisted index
    * ([[decontaminateFuzzyAt]]). The benchmark's banded signatures
    * BROADCAST, so like every input-proportional broadcast in this repo the
    * size is contract-capped with a named knob (`maxBenchSigs`, house style
    * of `maxProbeSigs`/`maxProbeChunks`): a pathological "benchmark suite"
    * fails fast instead of OOMing the broadcast silently. */
  private def fuzzyDecontCore(c: DataFrame, bSigs: DataFrame, bsets: DataFrame,
                              idCol: String, numHashes: Int, bands: Int,
                              threshold: Double, maxBenchSigs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nSigs = bSigs.count() // bSigs arrives shared/persisted — one cheap job
    if (nSigs > maxBenchSigs) throw new IllegalArgumentException(
      s"decontaminateFuzzy: benchmark side signed to $nSigs banded-signature " +
        s"rows > maxBenchSigs=$maxBenchSigs — the benchmark's signatures " +
        "BROADCAST to every corpus task (benchmark suites only); raise " +
        "maxBenchSigs if every executor can hold it, or use minHashNearDups " +
        "for corpus-vs-corpus near-dup joins")
    val cands = bandedSignatures(c, numHashes, bands).as("a")
      .join(broadcast(bSigs.as("b")),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig"))
      .select(col("a.doc").as("i"), col("b.doc").as("j"))
      .distinct()
    val scored = verified(cands, c, bsets, threshold)
    val w = Window.partitionBy("i").orderBy(col("jaccard").desc, col("j").asc)
    scored.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
      .select(col("i").as(idCol), col("j").as("bench_doc"), col("jaccard"))
  }

  /** Persist the BENCHMARK half of [[decontaminateFuzzy]] as a transactional
    * index — the [[decontaminateBloom]] posture applied to the fuzzy family:
    * shingle + sign the benchmark suite ONCE, then screen tomorrow's crawl
    * against the artifact without re-reading benchmark text. Two trees ride
    * one [[IndexCommit]] pointer: the banded signatures (main, broadcast at
    * probe time) and the benchmark's (doc, hms) shingle sets (sidecar, the
    * Jaccard-verify side), plus a params sidecar so a probe can never
    * mismatch k/numHashes/bands with the build. */
  def writeFuzzyDecontIndex(benchmark: DataFrame, idCol: String, textCol: String,
                            dir: String, k: Int = 3, numHashes: Int = 16,
                            bands: Int = 4, maxDf: Long = DefaultMaxDf): Unit = {
    val spark = benchmark.sparkSession
    import spark.implicits._
    val bsets = shingleSets(benchmark, idCol, textCol, k, maxDf)
    val paramsName = IndexCommit.sidecarName(dir, "params")
    Seq((k, numHashes, bands, maxDf, benchmark.schema(idCol).dataType.catalogString))
      .toDF("k", "num_hashes", "bands", "max_df", "id_type")
      .write.mode("overwrite").parquet(s"$dir/$paramsName")
    val shinglesName = IndexCommit.sidecarName(dir, "shingles")
    bsets.write.mode("overwrite").parquet(s"$dir/$shinglesName")
    IndexCommit.commitBase(dir, "sigs",
      Map("params" -> paramsName, "shingles" -> shinglesName)) { tree =>
      bandedSignatures(bsets, numHashes, bands)
        .write.mode("overwrite").parquet(tree)
    }
  }

  /** [[decontaminateFuzzy]] against a [[writeFuzzyDecontIndex]] artifact:
    * same flags, same scores — the benchmark text is never touched. */
  def decontaminateFuzzyAt(spark: org.apache.spark.sql.SparkSession,
                           dir: String, corpus: DataFrame, idCol: String,
                           textCol: String, threshold: Double = 0.5,
                           maxBenchSigs: Long = MaxBenchSigs,
                           version: Option[Long] = None): DataFrame = {
    val snap = IndexCommit.readSnapshot(dir, "sigs", version)
    val p = spark.read.parquet(snap.sidecar("params")).collect().head
    val (k, nh, bands, maxDf) = (p.getAs[Int]("k"), p.getAs[Int]("num_hashes"),
      p.getAs[Int]("bands"), p.getAs[Long]("max_df"))
    val bSigs = snap.dirs.map(spark.read.parquet(_)).reduce(_.unionByName(_))
    // artifacts written before the sets format hold distinct (doc, hm) rows
    val stored = spark.read.parquet(snap.sidecar("shingles"))
    val bsets = if (stored.columns.contains("hms")) stored
      else stored.groupBy("doc").agg(array_sort(collect_list(col("hm"))).as("hms"))
    fuzzyDecontCore(shingleSets(corpus, idCol, textCol, k, maxDf),
      bSigs, bsets, idCol, nh, bands, threshold, maxBenchSigs)
  }

  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                         textCol: String, k: Int = 8, m: Int = 1 << 20,
                         hashes: Int = 5): DataFrame = {
    // NO pre-distinct on either gram side (r17, guide §2.4 — remove
    // shuffles outright): [[Sketch.bloomSketch]] ends in a slot-level
    // distinct (duplicate grams set the same slots) and [[Sketch.bloomProbe]]
    // ends in a groupBy over the candidate columns (duplicate (doc, gram)
    // occurrences collapse there, with map-side partial aggregation doing
    // the dedup before the exchange) — the pre-distincts were full
    // gram-string shuffles that bought nothing. Results are identical:
    // distinct-then-probe == probe-then-group for a per-(doc, g)
    // deterministic membership predicate.
    val bGrams = OpUtil.explodedWordShingles(benchmark, idCol, textCol, k)
      .select(col("g"))
    val sketch = Sketch.bloomSketch(bGrams, col("g"), m, hashes)
    val cGrams = OpUtil.explodedWordShingles(corpus, idCol, textCol, k)
      .select(col("doc"), col("g"))
    Sketch.bloomProbe(cGrams, col("g"), sketch, m, hashes)
      .where(col("maybe_present"))
      .groupBy("doc").agg(count(lit(1)).as("n_flagged"))
      .select(col("doc").as(idCol), col("n_flagged"))
  }

  /** SemDeDup-style SEMANTIC dedup over an embedding column: cluster with a
    * coarse quantizer, then drop near-duplicates (cosine >= threshold)
    * WITHIN each cluster, keeping the lowest id per duplicate pair. Emits
    * survivors as `(idCol, cell)`.
    *
    * This is the embedding-space answer to [[minHashNearDups]]'s lexical
    * one: paraphrases and re-encodings that share no shingles still collide
    * in embedding space. The cluster pass is what makes it a 100 TB
    * operator — pairwise scoring runs per CELL (an equi-join on the cell
    * id, plan-audited; cost Σ|cell|², never N²), and the quantizer pass is
    * one broadcast of `nlist` centroid rows. Same deterministic coarse
    * quantizer as [[Similarity.ivfTopK]] (the `nlist` lowest-id vectors),
    * so the full operator — assignment tie-breaks included — is
    * reproducible bit-for-bit by the SQL oracle. Near-dups that land in
    * different cells are missed (the SemDeDup trade: recall for the
    * quadratic term); raise `nlist` for tighter cells or run
    * [[Similarity.embeddingNearDupsLsh]] when cross-cell recall matters. */
  def semantic(corpus: DataFrame, idCol: String, vecCol: String,
               threshold: Double, nlist: Int = 16): DataFrame = {
    val e = OpUtil.rebalance(corpus)
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val cents = e.select(col("id").as("cid"), col("v").as("cvec"))
      .orderBy("cid").limit(nlist)
    // nearest-cell assignment through [[Similarity.assignCells]] (r17):
    // integral-id corpora get the window-free codegen'd argmax projection —
    // no crossJoin, no corpus-wide window shuffle — with the identical
    // (cscore DESC, cid ASC) tie-break; non-integral ids keep the window
    // twin inside assignCells. Same cells, bit-for-bit (SimilaritySpec pin).
    val cells = OpUtil.shared(Similarity.assignCells(e, "id", "v", cents)
      .select(col("nid").as("id"), col("nvec").as("v"), col("cell")))
    val dropped = cells.as("a").join(cells.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .where(Similarity.cosine(col("a.v"), col("b.v")) >= threshold)
      .select(col("b.id").as("id")).distinct()
    cells.join(dropped, Seq("id"), "left_anti")
      .select(col("id").as(idCol), col("cell"))
  }

  /** Per-cluster REPRESENTATIVE selection by score: production dedup keeps
    * each near-dup cluster's highest-QUALITY member, not its lowest id —
    * given [[nearDupClusters]]' assignment and a per-doc score (quality
    * gate output, length, perplexity…), emit one `(cluster, rep, score)`
    * row per cluster, ties broken by lowest id (deterministic). Scale: the
    * window partitions by cluster id over ONLY the clustered docs (a small
    * fraction of any real corpus — unclustered docs never enter), and
    * near-dup clusters are near-cliques of bounded size, so no partition
    * is ever corpus-sized. */
  def clusterRepresentatives(clusters: DataFrame, scores: DataFrame,
                             idCol: String = "doc_id",
                             clusterCol: String = "cluster_id",
                             scoreCol: String = "score"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(clusterCol)
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    clusters.join(scores, Seq(idCol))
      .withColumn("_rk", row_number().over(w))
      .where(col("_rk") === 1)
      .select(col(clusterCol), col(idCol).as("rep_id"), col(scoreCol).as("rep_score"))
  }

  /** Incremental SEMANTIC dedup: probe NEW embeddings against a prebuilt
    * [[Similarity.IvfIndex]] — the embedding-space twin of
    * [[probeMinHashIndex]], and [[semantic]]'s growing-corpus deployment
    * shape. Each incoming vector is assigned to its nearest cell (one
    * broadcast of the index's centroid rows) and scored exactly against
    * ONLY that cell's members; emits `(existing, incoming, cosine)` pairs
    * at or above `threshold`. The index cells persist as an ordinary table
    * (bucket by `cell` to co-locate the probe join); the full within-corpus
    * pairwise pass never reruns — per ingest batch the cost is
    * |batch| × |matching cells|, not |corpus|². */
  def semanticProbe(index: Similarity.IvfIndex, newDocs: DataFrame,
                    idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val incoming = Similarity.assignCells(newDocs, idCol, vecCol, index.centroids)
      .select(col("nid").as("iid"), col("nvec").as("ivec"), col("cell"))
    index.cells.as("x").join(incoming.as("y"), col("x.cell") === col("y.cell"))
      .select(col("x.nid").as("existing"), col("y.iid").as("incoming"),
        Similarity.cosine(col("x.nvec"), col("y.ivec")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** STREAMING-safe twin of [[semanticProbe]]: cell assignment is the
    * window-free argmax expression ([[Similarity.assignCellsExpr]]) and the
    * index side is a broadcast, so the whole screen is STATELESS per
    * micro-batch — embeddings arrive on a stream, near-dups against the
    * persisted corpus index flag immediately, nothing accumulates in the
    * state store. Batch-callable too (bit-equal to [[semanticProbe]],
    * unit-pinned). At scale the broadcast bound is the INDEX's cells; for
    * corpora past broadcast size, run the batch twin over micro-batch
    * snapshots with a bucketed cells table instead. */
  def semanticProbeStream(index: Similarity.IvfIndex, newDocs: DataFrame,
                          idCol: String, vecCol: String,
                          threshold: Double): DataFrame = {
    val incoming = Similarity.assignCellsExpr(newDocs, idCol, vecCol, index.centroids)
      .select(col("nid").as("iid"), col("nvec").as("ivec"), col("cell"))
    incoming.join(
        broadcast(index.cells.select(col("nid").as("existing"),
          col("nvec").as("xvec"), col("cell"))), Seq("cell"))
      .select(col("existing"), col("iid").as("incoming"),
        Similarity.cosine(col("xvec"), col("ivec")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** SimHash fingerprint (60-bit): per token occurrence, each hash bit votes
    * +1/-1; fingerprint bit b is set iff the bit-b vote sum is positive. */
  def simHash(docs: DataFrame, idCol: String, textCol: String, bits: Int = 60): DataFrame = {
    val toks = OpUtil.rebalance(docs)
      .select(col(idCol).as("doc"), explode(Portable.words(col(textCol))).as("t"))
      .withColumn("h", Portable.hash60(col("t")))
    val votes = (0 until bits).map { b =>
      sum(shiftright(col("h"), b).bitwiseAND(1) * 2 - 1).as(s"v$b")
    }
    val agg = toks.groupBy("doc").agg(votes.head, votes.tail: _*)
    val fp = (0 until bits).map { b =>
      when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col("doc"), fp.as("simhash"))
  }

  /** Exact-verified near-dup pipeline: LSH candidates, then exact Jaccard on
    * candidates only (the 100 TB path: verification cost is proportional to
    * candidates, not pairs). */
  def minHashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 3, numHashes: Int = 16, bands: Int = 4,
                      threshold: Double = 0.5,
                      maxDf: Long = DefaultMaxDf): DataFrame = {
    // one set frame feeds the signatures and both sides of the verify
    val sets = shingleSets(docs, idCol, textCol, k, maxDf)
    verified(bandedCandidates(sets, numHashes, bands), sets, sets, threshold)
  }

  /** Candidate pairs (i, j) scored with their exact Jaccard from the two
    * docs' sets: the intersection of two arrays per pair, its size over
    * the union's, `ni` and `nj` the arrays' lengths. Cost is linear in the
    * candidates' set sizes; no shingle row is joined. Candidates share a
    * MinHash bucket, hence at least one shingle (each family member is a
    * bijection on [0, 2^31−1)), so no candidate's intersection is empty. */
  private def verified(cands: DataFrame, left: DataFrame, right: DataFrame,
                       threshold: Double): DataFrame =
    cands
      .join(left.select(col("doc").as("i"), col("hms").as("hi")), "i")
      .join(right.select(col("doc").as("j"), col("hms").as("hj")), "j")
      .select(col("i"), col("j"),
        size(array_intersect(col("hi"), col("hj"))).as("inter"),
        size(col("hi")).as("ni"), size(col("hj")).as("nj"))
      .withColumn("jaccard", col("inter") / (col("ni") + col("nj") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("i"), col("j"), col("jaccard"))

  /** SEGMENT-level exact dedup across the corpus — the CCNet/RefinedWeb
    * "remove duplicated lines" curation step, which document-level dedup
    * cannot express: boilerplate (headers, nav bars, license blocks) repeats
    * across otherwise-distinct documents. Input is one row per segment
    * (`idCol`, `segCol`; keep a position column if you will reassemble)
    * from any splitter — newline split in
    * deployment ([[dedupLines]]), token windows ([[TextOps.chunkTokens]])
    * when the corpus carries no line structure. Drops every segment whose
    * exact text occurs in >= `minDf` DISTINCT documents (a segment repeated
    * within one doc survives); segments shorter than `minLen` characters
    * never participate and are always kept — blank lines and trailing
    * separators are structure, not boilerplate (the CCNet guard; without
    * it the empty line is the most frequent "line" in any real corpus and
    * paragraph breaks would dedup away). Returns the kept segment rows
    * unchanged.
    *
    * Plan at corpus scale: segments reduce to their 60-bit portable hash
    * ONCE ([[OpUtil.shared]] — the df aggregate and the anti-join probe
    * both consume the hashed frame without re-running the upstream
    * explode+md5), the df aggregate — distinct (hm, doc) then a count per
    * hm — and the anti-join all shuffle 8-byte keys, and the
    * duplicated-segment set is small by construction (only text that
    * actually repeats across docs). No self-join, no window over the
    * corpus. Deterministic: exact string hashing, integer df — the SQL
    * oracle reproduces it bit-for-bit. */
  def dedupSegments(segments: DataFrame, idCol: String, segCol: String,
                    minDf: Long = 2L, minLen: Int = 1): DataFrame = {
    val sh = OpUtil.shared(segments.withColumn("_hm", Portable.hash60(col(segCol))))
    keptSegments(sh, idCol, segCol, minDf, minLen).drop("_hm")
  }

  /** The df-filter + anti-join core over an already-hashed (and shared)
    * segments frame carrying `_hm`. */
  private def keptSegments(sh: DataFrame, idCol: String, segCol: String,
                           minDf: Long, minLen: Int): DataFrame = {
    require(minDf >= 2, s"minDf >= 2 required (got $minDf): df 1 would drop every segment")
    val dup = sh.where(length(col(segCol)) >= minLen)
      .select(col("_hm"), col(idCol)).distinct()
      .groupBy("_hm").agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf).select(col("_hm").as("_duphm"))
    sh.join(dup, sh("_hm") === dup("_duphm"), "left_anti")
  }

  /** Reassemble documents from kept segments: per doc, segments back in
    * original `posCol` order joined by `sep`, plus the kept count. The
    * position column must be NUMERIC (required loudly) — a string-typed
    * position would sort lexicographically ('10' before '2') and a silent
    * cast would NULL non-numeric values and reorder by segment text; both
    * corrupt document order without an error. Documents whose every
    * segment was dropped do not appear (join from the original corpus and
    * coalesce — [[dedupSegmentsReport]] does). Per-doc state is bounded by
    * that document's own segment count, the same bound as any per-doc
    * rebuild. */
  def reassembleSegments(kept: DataFrame, idCol: String, posCol: String,
                         segCol: String, sep: String = "\n"): DataFrame = {
    // Resolve through the analyzer (not kept.schema(posCol)) so posCol honors
    // spark.sql.caseSensitive like every other column reference here.
    val posType = kept.select(col(posCol)).schema.head.dataType
    require(posType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"posCol '$posCol' must be numeric (got $posType): non-numeric positions " +
        "would reassemble segments in lexicographic order")
    kept.groupBy(idCol).agg(
      array_join(transform(
        array_sort(collect_list(struct(col(posCol).as("_p"),
          col(segCol).as("_s")))),
        x => x.getField("_s")), sep).as("text_dedup"),
      count(lit(1)).as("n_kept"))
  }

  /** [[dedupSegments]] + [[reassembleSegments]] + per-doc accounting in one
    * call over pre-split segments: every document that contributed a
    * segment emits `(idCol, text_dedup, n_lines, n_dropped)` — a fully-
    * boilerplate doc comes back with empty text and `n_dropped ==
    * n_lines`. The segments frame is materialized once and feeds all three
    * consumers (df aggregate, anti-join probe, per-doc totals). */
  def dedupSegmentsReport(segments: DataFrame, idCol: String, posCol: String,
                          segCol: String, sep: String = "\n",
                          minDf: Long = 2L, minLen: Int = 1): DataFrame = {
    val sh = OpUtil.shared(segments.withColumn("_hm", Portable.hash60(col(segCol))))
    val kept = keptSegments(sh, idCol, segCol, minDf, minLen)
    val rebuilt = reassembleSegments(kept, idCol, posCol, segCol, sep)
    sh.groupBy(idCol).agg(count(lit(1)).as("n_lines"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("text_dedup"), lit("")).as("text_dedup"),
        col("n_lines"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** Line-level corpus dedup, the user-facing composition: split each doc
    * on the LITERAL separator `sep` and run [[dedupSegmentsReport]]. Blank
    * lines survive (`minLen` guard), so paragraph structure is preserved;
    * every input doc emits a row — a NULL text is treated as empty (one
    * blank segment), not silently dropped. */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
                 sep: String = "\n", minDf: Long = 2L, minLen: Int = 1): DataFrame = {
    val segs = OpUtil.rebalance(docs).select(col(idCol),
      posexplode(split(coalesce(col(textCol), lit("")),
        java.util.regex.Pattern.quote(sep))).as(Seq("pos", "line")))
    dedupSegmentsReport(segs, idCol, "pos", "line", sep, minDf, minLen)
  }

  /** Exact duplicated-SPAN removal — the token-window form of the
    * exact-substring dedup step (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better") that [[dedupLines]]'s fixed
    * segmentation cannot express: a duplicated run is found WHEREVER it
    * starts, not only on line boundaries. Every k-token window occurring in
    * `>= minDf` DISTINCT documents marks its token range; per doc,
    * overlapping ranges merge into maximal spans (so a duplicated run of
    * any length >= k is cut exactly once, not window-by-window) and the
    * surviving tokens reassemble in order. In-doc repeats alone don't
    * trigger removal (df counts distinct docs, matching [[dedupSegments]]);
    * docs shorter than k tokens pass through untouched. Emits
    * `(idCol, text_dedup, n_tokens, n_removed)` for EVERY input doc.
    *
    * Plan at corpus scale: windows explode to one row per token position
    * with an 8-byte hash (never the gram text) — one hash aggregate for
    * the df, an equi-join back, then the interval merge is a per-doc
    * window (cumulative max of span ends) and the reassembly one keyed
    * aggregate; the corpus never joins itself. Deterministic end to end —
    * integer positions, portable hashes — so the SQL oracle reproduces
    * every removed span bit-for-bit. */
  def dedupSpans(docs: DataFrame, idCol: String, textCol: String, k: Int = 8,
                 minDf: Long = 2L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be positive (got $k)")
    require(minDf >= 2, s"minDf >= 2 required (got $minDf): df 1 would drop every window")
    val toks = OpUtil.shared(OpUtil.rebalance(docs).select(col(idCol).as("doc"),
      split(coalesce(col(textCol), lit("")), " ").as("toks")))
    // every k-window start position, hashed (8-byte shuffle keys)
    val wins = OpUtil.shared(toks
      .select(col("doc"), col("toks"),
        explode(when(size(col("toks")) >= k, sequence(lit(0), size(col("toks")) - k))
          .otherwise(array().cast("array<int>"))).as("p"))
      .select(col("doc"), col("p"),
        Portable.hash60(concat_ws(" ",
          slice(col("toks"), col("p") + 1, lit(k)))).as("_hm")))
    val dup = wins.select(col("_hm"), col("doc")).distinct()
      .groupBy("_hm").agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf).select(col("_hm").as("_duphm"))
    val marked = wins.join(dup, wins("_hm") === dup("_duphm"), "left_semi")
      .select(col("doc"), col("p"))
    // merge overlapping [p, p+k) ranges: a window starts a NEW span iff it
    // begins at or after the running max end of all earlier windows
    val ordered = Window.partitionBy("doc").orderBy("p")
    val prevEnd = max(col("p") + k).over(
      ordered.rowsBetween(Window.unboundedPreceding, -1))
    val spans = marked
      .withColumn("_new", when(col("p") >= coalesce(prevEnd, lit(-1)), 1).otherwise(0))
      .withColumn("_grp", sum(col("_new")).over(ordered))
      .groupBy(col("doc"), col("_grp"))
      .agg(min("p").as("lo"), (max("p") + k).as("hi"))
    // cut the spans: anti-join token positions against their doc's spans
    val tok = toks.select(col("doc"),
      posexplode(col("toks")).as(Seq("pos", "tok")))
    val kept = tok.join(spans,
      tok("doc") === spans("doc") && col("pos") >= col("lo") && col("pos") < col("hi"),
      "left_anti")
    val rebuilt = reassembleSegments(kept, "doc", "pos", "tok", " ")
    toks.select(col("doc"), size(col("toks")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc"), "left")
      .select(col("doc").as(idCol),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Per-document contamination REPORT — the thresholdable variant of
    * [[decontaminate]]'s any-hit filter: for EVERY corpus doc, its distinct
    * (df-capped) k-gram count, how many of those grams the benchmark set
    * contains, and the integer permille share (floor(1000·shared/grams)).
    * GPT-3-style any-hit is `permille > 0`; stricter pipelines cut at e.g.
    * `permille >= 100`. Docs shorter than k words report all zeros.
    *
    * Same plan shape as [[decontaminate]] — both sides collapse to distinct
    * hashed shingles, the benchmark's distinct-gram set broadcasts, one
    * left join + per-doc aggregate; the corpus never joins itself. All
    * outputs are integers, bit-reproducible by the SQL oracle. */
  def decontaminateReport(corpus: DataFrame, benchmark: DataFrame,
                          idCol: String, textCol: String, k: Int = 8,
                          maxDf: Long = DefaultMaxDf,
                          maxBenchGrams: Long = MaxBenchGrams): DataFrame = {
    val c = cappedShingles(corpus, idCol, textCol, k, maxDf)
    // broadcast bench gram set: same reasoning as [[decontaminate]] (the
    // left-outer probe builds on the broadcast right side)
    val b = broadcast(benchGramSet(benchmark, idCol, textCol, k, maxDf,
      maxBenchGrams).withColumn("_hit", lit(1)))
    val per = c.join(b, Seq("hm"), "left")
      .groupBy("doc")
      .agg(count(lit(1)).as("n_grams"), count(col("_hit")).as("n_shared"))
    corpus.select(col(idCol))
      .join(per.withColumnRenamed("doc", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          call_function("div", col("n_shared") * 1000, col("n_grams")))
          .otherwise(lit(0L)).as("permille"))
  }
}
