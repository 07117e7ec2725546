package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A multimodal record: opaque binary payload + content-type discriminator +
  * string metadata, mirroring the engine's record-batch model (payload BINARY
  * by design, properties as the typed-metadata side channel). */
final case class MediaRecord(
    media_id: Long,
    content_type: String,
    payload: Array[Byte],
    meta: Map[String, String])

/** REAL decode output ([[Multimodal.decodeMedia]]): container fields parsed
  * from genuine bytes. Integer features only (sums, not means) —
  * bit-reproducible under any partitioning and recomputable by the SQL
  * oracle. Fields not applicable to a container are 0. */
final case class DecodedMedia(
    media_id: Long, content_type: String, n_bytes: Long,
    width: Long, height: Long,
    channels: Long, sample_rate: Long, n_samples: Long, duration_ms: Long,
    sum_r: Long, sum_g: Long, sum_b: Long, sum_abs: Long, peak: Long)

/** One sliced media item ([[Multimodal.mp4SampleSlices]] /
  * [[Multimodal.flacFrameSlices]]): the ACTUAL payload bytes of one MP4
  * sample or FLAC frame, cut out of the container by the resolved byte
  * ranges — the deployment operation the table walks exist for. For MP4,
  * `track_id`/`item_idx`/`ts` are the sample's track, index and dts; for
  * FLAC, `track_id` is 0 and `ts` is the frame's first sample offset. */
final case class MediaSlice(
    media_id: Long, track_id: Long, item_idx: Long, ts: Long,
    bytes: Array[Byte])

/** Fake-featureized ([[Multimodal.decodeFeatures]]) shape for one media
  * payload — closed-form arithmetic, NOT a decode (that is [[DecodedMedia]]). */
final case class MediaFeatures(
    media_id: Long,
    content_type: String,
    n_bytes: Long,
    width: Long,       // images/video: fake-decoded dimensions
    height: Long,
    duration_ms: Long, // audio/video
    checksum: Long)

/** Multimodal-column operators: images/audio/video as opaque BINARY columns
  * with typed metadata, decoded/feature-extracted in distributed batches.
  *
  * Two decode surfaces, by design:
  *  - [[decodeMedia]] — the REAL path: pure-JVM container/codec decode
  *    ([[MediaCodecs]]: WAV, BMP, PNG, JPEG, MP4 box walk, FLAC
  *    STREAMINFO), loud on unrecognized bytes;
  *  - [[decodeFeatures]] — a clearly-marked deterministic FAKE featureizer
  *    (closed-form arithmetic over byte lengths) kept for exercising the
  *    pipeline SHAPE cheaply and oracle-checkably.
  * Both share the 100 TB batch design: schema, typed Dataset plumbing, the
  * mapPartitions shape (one decoder instance per partition, streaming
  * iterator, no per-row setup) — swap in a JNI/FFmpeg sample decoder and
  * nothing else changes.
  */
object Multimodal {

  /** Deployment default for the CDC `divisor` (expected mean chunk length in
    * bytes). The in-repo fixtures and oracles use `divisor = 16` because the
    * test payloads are a few hundred BYTES — at that scale 16 B chunks give
    * each payload enough chunks for overlap counting to mean something. Real
    * media runs KiB-scale payloads, and a 16 B divisor there would grow the
    * (id, chunk-hash) index to a constant factor of the corpus itself;
    * production CDC systems cut 4-64 KiB mean chunks. Use THIS default (or
    * larger) in deployment: the plan is corpus-linear at any divisor — only
    * the index-size constant changes (index rows ≈ corpus_bytes / divisor) —
    * and the codegen'd chunker's throughput RISES with the divisor (fewer
    * cut tests succeed, fewer md5 digests per byte; the bench reports
    * measured MB/s at both 16 and this value side by side). The
    * deployment-shaped APIs ([[writeMediaLibraryIndex]],
    * [[mediaDedupProbe]]) DEFAULT to this value — fixtures pass 16
    * explicitly — so building a corpus-scale index with the parameter
    * omitted cannot silently produce ~16 B chunks. */
  val DeploymentDivisor: Int = 16384

  /** Broadcast bound for [[mediaDedupProbeAt]]'s incoming chunk set. The
    * probe's plan broadcasts the INCOMING chunks so the library never
    * shuffles — correct for its upload-screen deployment (micro-batch-sized
    * probes), but a batch caller probing a huge corpus would OOM the
    * broadcast; 4M (id, hash) rows ≈ low hundreds of MB serialized is the
    * sane ceiling. Past it the probe fails fast naming the knob (the
    * [[Sampling.tokenBudgetStream]] `maxBatchRows` treatment) — the
    * corpus-vs-corpus job is [[binaryNearDupsCdc]], not this API. */
  val MaxProbeChunks: Long = 4000000L

  /** Params-sidecar memo for the probe hot path. Committed sidecars are
    * IMMUTABLE files under generation-unique names (written before the
    * pointer flip — [[writeMediaLibraryIndex]]), so their 1-row contents
    * memoize safely by absolute path: before r18 every
    * [[mediaDedupProbeAt]] call re-read the same tiny parquet through a
    * full Spark job (~0.15 s of driver latency per probe at sf0.1, once
    * per micro-batch in the streaming screen). Only a name that carries a
    * generation suffix is unique: a FIRST build registers the bare
    * `params` name ([[IndexCommit.sidecarName]]), which a delete and
    * rebuild at the same path rewrites in place, as does a rebuild of a
    * pre-sidecar index — bare-named params files are NEVER memoized.
    * Bounded LRU, metadata only — the same class of cache as Spark's own
    * file-listing session cache. */
  private val paramsMemo =
    new java.util.LinkedHashMap[String, org.apache.spark.sql.Row](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, org.apache.spark.sql.Row]): Boolean =
        size() > 64
    }
  private def readParams(spark: SparkSession,
                         snap: IndexCommit.ReadSnapshot): org.apache.spark.sql.Row = {
    val path = snap.sidecar("params")
    val memoizable = snap.sidecars.get("params").exists(_ != "params")
    if (memoizable) {
      val got = paramsMemo.synchronized(paramsMemo.get(path))
      if (got != null) return got
    }
    val row = spark.read.parquet(path).collect().head
    if (memoizable) paramsMemo.synchronized { paramsMemo.put(path, row); () }
    row
  }
  /** Test seam: forget memoized params (e.g. after deleting index dirs). */
  private[graft] def clearParamsMemo(): Unit =
    paramsMemo.synchronized(paramsMemo.clear())

  /** STUB decoder: deterministic fake feature extraction from payload bytes.
    * A real deployment decodes here (libjpeg/ffmpeg/...); the arithmetic is
    * fixed so results are reproducible and oracle-checkable. */
  def stubDecode(r: MediaRecord): MediaFeatures = {
    val n = if (r.payload == null) 0L else r.payload.length.toLong
    val isVisual = r.content_type.startsWith("image/") || r.content_type.startsWith("video/")
    val isTimed = r.content_type.startsWith("audio/") || r.content_type.startsWith("video/")
    MediaFeatures(
      media_id = r.media_id,
      content_type = r.content_type,
      n_bytes = n,
      width = if (isVisual) n % 640 + 16 else 0L,
      height = if (isVisual) (n * 7) % 480 + 16 else 0L,
      duration_ms = if (isTimed) n % 10000 else 0L,
      checksum = if (n == 0) 0L
        else (r.payload.head & 0xffL) * 256 + (r.payload.last & 0xffL))
  }

  /** Distributed decode: one decoder per partition, streaming through the
    * iterator (the Scala analogue of a Pandas-UDF `mapInPandas` batch). */
  def decodeFeatures(records: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      // per-partition decoder setup would go here (real codecs are stateful)
      it.map(stubDecode)
    }
  }

  /** Frame sampling for video payloads: every `step`-th frame index of a
    * fake-decoded frame count (n_bytes mod 30 frames), exploded to one row
    * per sampled frame — the batch shape a real frame extractor produces. */
  def sampleFrames(features: Dataset[MediaFeatures], step: Int = 5): DataFrame = {
    import features.sparkSession.implicits._
    features.toDF()
      .where(col("content_type").startsWith("video/"))
      .withColumn("n_frames", col("n_bytes") % 30)
      .where(col("n_frames") > 0)
      .select(col("media_id"), col("n_frames"),
        explode(sequence(lit(0L), col("n_frames") - 1, lit(step.toLong))).as("frame_idx"))
  }

  /** Distinct per-media CHUNK hashes of the raw payload bytes: the fixed
    * 64-byte grid, each chunk reduced to the portable 60-bit hash — the
    * dedup unit for opaque media that needs NO codec (exact-byte-region
    * sharing: re-encoded uploads of the same file, partial copies,
    * watermarked variants sharing most regions). The payload is
    * hex-encoded first (`upper(hex(...))` — byte-identical text in Spark
    * and DuckDB), so chunking is plain string slicing and every hash is
    * engine-reproducible. Heavy chunks occurring in more than `maxDf`
    * medias (shared headers/padding) are dropped BEFORE any join — the
    * [[Dedup]] df-cap rule that keeps posting lists from going quadratic.
    *
    * Fixed-grid chunking is alignment-sensitive by design (an INSERTED
    * byte shifts every later chunk): it detects shared aligned regions
    * exactly and cheaply; content-defined chunking is the alignment-robust
    * refinement and shares this plan shape. */
  def binaryChunkHashes(df: DataFrame, idCol: String, payloadCol: String,
                        chunkBytes: Int = 64, maxDf: Int = 64,
                        cacheCapped: Boolean = false): DataFrame = {
    require(maxDf >= 1)
    // shared(): the df-cap anti-join reads the chunk pipeline TWICE (main
    // side + heavy side) and the pair join twice more — materialize the
    // distinct (id, ch) rows once (same reasoning as Dedup's shingle
    // cache; the rows are a small fraction of the payload bytes).
    // rebalance: a few-MB media table arrives as one leaf split; at
    // cluster scale it's a no-op.
    val ch = OpUtil.shared(
      binaryChunkRows(OpUtil.rebalance(df), idCol, payloadCol, chunkBytes))
    // broadcast: the heavy set is tiny by construction (chunks in > maxDf
    // medias); without the hint the anti-join was an SMJ that exchanged and
    // sorted the FULL postings per consumer (r17, §2.4/§3.1). cacheCapped:
    // the self-join callers consume the capped postings twice — cache them
    // once instead of re-running the cap per side (Dedup.cappedShingles'
    // r17 fix applied here).
    val heavy = ch.groupBy("ch").count().where(col("count") > maxDf).select("ch")
    val capped = ch.join(broadcast(heavy), Seq("ch"), "left_anti")
    if (cacheCapped) OpUtil.shared(capped) else capped
  }

  /** Per-row fixed-grid chunk rows `(id, ch)` — one codegen'd pass over
    * the raw bytes ([[org.apache.spark.sql.graftshim.GridChunkHashesExpr]])
    * + explode; stateless, so stream-legal like [[cdcChunkRows]].
    * Per-payload dedup equals the global distinct when ids are unique. */
  def binaryChunkRows(df: DataFrame, idCol: String, payloadCol: String,
                      chunkBytes: Int = 64): DataFrame = {
    import org.apache.spark.sql.graftshim.{GraftShims, GridChunkHashesExpr}
    require(chunkBytes >= 1)
    df.select(col(idCol),
      explode(GraftShims.column(GridChunkHashesExpr(
        GraftShims.expr(col(payloadCol).cast("binary")), chunkBytes)))
        .as("ch"))
  }

  /** Column-composed twin of [[binaryChunkRows]] — the exact hex-text shape
    * the SQL oracle replays; kept as the executable spec the codegen'd
    * expression is unit-pinned against (interpreted HOFs; never hot). */
  private[graft] def binaryChunkRowsComposed(df: DataFrame, idCol: String,
                                             payloadCol: String,
                                             chunkBytes: Int): DataFrame = {
    val w = 2 * chunkBytes // hex chars per chunk
    val base = df.select(col(idCol), upper(hex(col(payloadCol))).as("_hx"))
    val hx = col("_hx")
    // last chunk index = floor((len - 1) / w), clamped at 0 for empty
    // payloads (their lone empty chunk is filtered below); integer div via
    // floor-of-double is exact here (hex lengths are far below 2^53)
    val lastIdx = greatest(floor((length(hx) - 1).cast("double") / w), lit(0.0))
      .cast("int")
    val chunks = transform(
      sequence(lit(0), lastIdx),
      i => hx.substr((i * w + 1).cast("int"), lit(w)))
    base
      .select(col(idCol), explode(array_distinct(transform(
        filter(chunks, c => c =!= ""),
        c => graft.functions.Portable.hash60(c)))).as("ch"))
  }

  /** Content-defined chunk hashes: the alignment-robust refinement of
    * [[binaryChunkHashes]]. A cut is placed at byte offset `c` iff the
    * polynomial hash `Σ_{k<window} B[c−k]·131^k` of the `window` bytes
    * ENDING at `c` is 0 mod `divisor` — a purely position-local rule (the
    * gear/Rabin family with the min/max bounds dropped), so an inserted or
    * deleted byte perturbs only the cuts within `window` bytes of the edit
    * and every later chunk re-aligns; fixed-grid chunking loses ALL chunks
    * after the edit point. Expected chunk length ≈ `divisor` bytes. No
    * min-chunk enforcement keeps the rule stateless per offset — that is
    * what makes it reproducible by an independent SQL engine (the boundary
    * set is a pure per-position predicate over the byte values, not a
    * left-to-right scan state), and the polynomial stays exact in 64-bit
    * integers on both engines; the occasional tiny chunk it allows is
    * absorbed by the same `maxDf` cap that drops shared headers. Reference
    * role: the sparse-index block boundaries
    * (`components/object-storage/src/range_offload.rs:361-451`) are
    * content-position-stable the same way.
    *
    * Plan shape is identical to the fixed grid: hex + byte array once,
    * per-row array work (no shuffle), distinct, df-cap — corpus-linear at
    * 100 TB, O(window) integer ops per byte. */
  /** Polynomial window-hash multipliers 131^k — exact in BIGINT for
    * window ≤ 8 (131^7·255 < 2^58), so Spark and the SQL oracle can never
    * diverge on overflow. */
  private[graft] def gearPow(window: Int): Seq[Long] = {
    require(window >= 1 && window <= 8, "window must be in [1, 8]")
    Seq.iterate(1L, window)(_ * 131L)
  }

  /** Per-row CDC chunk rows `(id, ch)` — the STREAM-LEGAL core of
    * [[cdcChunkHashes]]: one stateless per-row projection (the codegen'd
    * [[org.apache.spark.sql.graftshim.CdcChunkHashesExpr]] — cut, chunk,
    * hash and per-payload dedup in a single compiled pass over the raw
    * bytes) + explode, no shuffle, no repartition probe, so it runs
    * unchanged inside a streaming micro-batch. Per-payload distinct equals
    * the batch path's global distinct exactly when ids are unique per row
    * (the media-table contract) — and costs no shuffle. No df-cap here: a
    * stream can't know corpus-wide document frequencies; cap against a
    * STATIC library index ([[cdcChunkHashes]]'s) instead. */
  def cdcChunkRows(df: DataFrame, idCol: String, payloadCol: String,
                   window: Int = 8, divisor: Int = 16): DataFrame = {
    import org.apache.spark.sql.graftshim.{CdcChunkHashesExpr, GraftShims}
    require(divisor >= 1)
    df.select(col(idCol),
      explode(GraftShims.column(CdcChunkHashesExpr(
        GraftShims.expr(col(payloadCol).cast("binary")), window, divisor)))
        .as("ch"))
  }

  /** The COLUMN-composed twin of [[cdcChunkRows]] — the exact shape the SQL
    * oracle replays (hex text, byte-value array, higher-order cut filter),
    * kept as the executable spec the codegen'd expression is unit-pinned
    * against. Interpreted HOFs make it ~20× slower; never on a hot path. */
  private[graft] def cdcChunkRowsComposed(df: DataFrame, idCol: String, payloadCol: String,
                   window: Int = 8, divisor: Int = 16): DataFrame = {
    require(divisor >= 1)
    val pows = gearPow(window)
    // hex ONCE into a materialized column (the per-chunk lambdas run
    // interpreted — an embedded hex subtree would re-encode the whole
    // payload per element, O(n²) per row), and the BYTE-VALUE array once
    // beside it: the cut predicate runs per byte offset, so its per-offset
    // work must be O(window) element reads + integer arithmetic, not a
    // digest (an md5-per-offset draft measured ~25x slower at sf0.1 for
    // identical chunking quality). The polynomial Σ B[c-k]·131^k is the
    // gear-hash family's shape, exact in 64-bit on both engines.
    // STAGED selects: each derived value (_hx, _b, _cuts) lands as a real
    // column before anything references it, so every cross-stage reference
    // is a bound O(1) read. Composing these as one Column tree instead
    // duplicates the producer SUBTREE at every reference site — the chunk
    // lambda references the cut list three times, and an inlined cut
    // filter re-runs over all n offsets PER CHUNK (measured 14 s for
    // 1.5 MB at sf0.1; staged: sub-second). CollapseProject keeps the
    // stages apart: each producer is non-cheap and multiply-referenced.
    val hx = col("_hx")
    val bytes = col("_b")
    val cuts = col("_cuts")
    val hexed = df.select(col(idCol), upper(hex(col(payloadCol))).as("_hx"))
    val n0 = (length(hx) / 2).cast("int")
    val withBytes = hexed.select(
      col(idCol), hx,
      when(n0 >= 1, transform(sequence(lit(1), n0),
          j => conv(hx.substr((j - 1) * 2 + 1, lit(2)), 16, 10).cast("long")))
        .otherwise(array().cast("array<long>")).as("_b"))
    val nB = size(bytes)
    // candidate cut offsets w..n-1 (a cut at 0 or n is implicit); Spark's
    // sequence DESCENDS when start > stop, so guard the short-payload case
    val cand = when(nB - 1 >= window, sequence(lit(window), nB - 1))
      .otherwise(array().cast("array<int>"))
    val cuts0 = filter(cand, c =>
      pows.zipWithIndex.map { case (p, k) =>
        element_at(bytes, c - k) * lit(p)
      }.reduce(_ + _) % divisor === 0)
    val withCuts = withBytes.select(col(idCol), hx,
      concat(array(lit(0)), cuts0, array(nB)).as("_cuts"))
    val chunks = transform(sequence(lit(0), size(cuts) - 2), k =>
      hx.substr(element_at(cuts, k + 1) * 2 + 1,
        (element_at(cuts, k + 2) - element_at(cuts, k + 1)) * 2))
    withCuts
      .select(col(idCol), explode(array_distinct(transform(
        filter(chunks, c => c =!= ""),
        c => graft.functions.Portable.hash60(c)))).as("ch"))
  }

  def cdcChunkHashes(df: DataFrame, idCol: String, payloadCol: String,
                     window: Int = 8, divisor: Int = 16,
                     maxDf: Int = 64, cacheCapped: Boolean = false): DataFrame = {
    require(maxDf >= 1)
    // shared(): the df-cap anti-join and the pair join re-read the chunk
    // pipeline up to 4x — materialize the (id, ch) rows once. rebalance:
    // a few-MB media table arrives as one leaf split, serializing the
    // interpreted chunking; at cluster scale it's a no-op.
    val ch = OpUtil.shared(
      cdcChunkRows(OpUtil.rebalance(df), idCol, payloadCol, window, divisor))
    // broadcast + cacheCapped: see [[binaryChunkHashes]] (r17)
    val heavy = ch.groupBy("ch").count().where(col("count") > maxDf).select("ch")
    val capped = ch.join(broadcast(heavy), Seq("ch"), "left_anti")
    if (cacheCapped) OpUtil.shared(capped) else capped
  }

  /** Screen incoming media against a STATIC library chunk index — the
    * upload-time dedup gate, and the streaming sibling of
    * [[binaryNearDupsCdc]] (the `dedup_semantic_probe` pattern applied to
    * bytes): each incoming payload chunks statelessly ([[cdcChunkRows]] —
    * legal inside a micro-batch), equi-joins the library's df-capped
    * postings (stream-static), and pairs sharing >= `minShared` chunks
    * surface as `(incoming, existing, n_shared)`. The only streaming state
    * is the pair-count aggregate. Same-id pairs are dropped (the id IS the
    * object identity; a re-upload under a new id is what the screen
    * catches). At corpus scale, persist the library index with
    * [[writeMediaLibraryIndex]] and probe with [[mediaDedupProbeAt]] —
    * bucket-partition-pruned, and the library never shuffles (plan-pinned
    * in PlanAuditSpec).
    *
    * `divisor` has NO default and MUST match the divisor the library index
    * was chunked with — mismatched chunking joins nothing, silently (the
    * [[Sampling.packGreedy]] force-a-choice precedent: [[cdcChunkHashes]]
    * defaults to the 16 B fixture scale while the deployment constant is
    * [[DeploymentDivisor]], so no default here is coherent with both;
    * [[mediaDedupProbeAt]] reads it from the persisted params sidecar and
    * cannot mismatch). Parameter ORDER keeps [[cdcChunkRows]]'s
    * `(window, divisor)` convention, matching every release EXCEPT the
    * round-11 one, which briefly shipped `(divisor, window = 8)`.
    * MIGRATION HAZARD, stated plainly: a two-positional-arg call like
    * `(..., 8, 16)` means `window=8, divisor=16` here and in every
    * pre-r11 release, but meant `divisor=8, window=16` under the r11
    * signature — a caller written against r11 is silently reinterpreted
    * by this restore. Pass `divisor` BY NAME (as every in-repo caller
    * does); a named call has meant the same thing in every release. */
  def mediaDedupProbe(libraryIndex: DataFrame, incoming: DataFrame,
                      idCol: String, payloadCol: String,
                      window: Int = 8, divisor: Int,
                      minShared: Int = 4): DataFrame = {
    val libId = libraryIndex.columns.filterNot(_ == "ch") match {
      case Array(one) => one
      case _ => throw new IllegalArgumentException(
        "library index must carry exactly (id, ch) columns, got " +
          libraryIndex.columns.mkString(","))
    }
    val inc = cdcChunkRows(incoming, idCol, payloadCol, window, divisor)
      .select(col(idCol).as("incoming"), col("ch"))
    val lib = libraryIndex.select(col(libId).as("existing"), col("ch"))
    inc.join(lib, Seq("ch"))
      .where(col("incoming") =!= col("existing"))
      .groupBy("incoming", "existing").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Persist a media library's df-capped CDC chunk index PARTITIONED BY a
    * chunk-hash bucket — the on-disk deployment shape [[mediaDedupProbe]]'s
    * scaladoc prescribes (the [[graft.operators.Similarity.writeIvfIndex]]
    * treatment applied to the chunk index): build once over the library,
    * probe many times without ever shuffling the library. `bucket =
    * pmod(ch, nBuckets)` is a pure function of the join key, so a probe
    * knows exactly which `bucket=N/` directories its chunks can live in and
    * pushes them as a static partition filter. Params ride a tiny sidecar
    * so probes can never chunk with mismatched (window, divisor).
    *
    * `divisor` defaults to [[DeploymentDivisor]]: this is THE corpus-scale
    * builder, and a fixture-scale 16 B default here would let a 100 TB
    * caller build a chunk index a constant factor the size of the corpus
    * by omission (fixtures pass 16 explicitly). */
  def writeMediaLibraryIndex(df: DataFrame, idCol: String, payloadCol: String,
                             dir: String, window: Int = 8,
                             divisor: Int = DeploymentDivisor,
                             maxDf: Int = 64, nBuckets: Int = 64): Unit = {
    require(nBuckets >= 1)
    val spark = df.sparkSession
    val ch = cdcChunkHashes(df, idCol, payloadCol, window, divisor, maxDf)
    import spark.implicits._
    // id name + type ride the sidecar so appendToMediaLibraryIndex can
    // match the chunks schema without listing the growing chunks tree.
    // The sidecar is written BEFORE the pointer flip under a
    // generation-unique name (see Similarity.writeIvfIndex): snapshot
    // readers never pair one build's window/divisor with another's trees
    val paramsName = IndexCommit.sidecarName(dir, "params")
    Seq((window, divisor, maxDf, nBuckets, idCol,
        df.schema(idCol).dataType.catalogString))
      .toDF("window", "divisor", "max_df", "n_buckets", "id_name", "id_type")
      .write.mode("overwrite").parquet(s"$dir/$paramsName")
    IndexCommit.commitBase(dir, "chunks", Map("params" -> paramsName)) { tree =>
      ch.select(col(idCol), col("ch"),
          pmod(col("ch"), lit(nBuckets.toLong)).cast("int").as("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(tree)
    }
  }

  /** Incremental maintenance for the persisted chunk library — the
    * [[graft.operators.Similarity.appendToIvfIndex]] contract applied to
    * media dedup: chunk NEW media with the params the index was BUILT with
    * (read from the sidecar, so an append can never mismatch window/
    * divisor/buckets) and append their rows under the same
    * `bucket=pmod(ch,n)/` layout; probes see old and new uploads alike.
    *
    * df-cap semantics (documented contract): the cap applies WITHIN each
    * appended slice, like it applied within the build corpus — a chunk
    * that only becomes corpus-heavy ACROSS slices keeps its postings
    * until [[compactMediaLibraryIndex]] re-applies the cap GLOBALLY (the
    * standard incremental-inverted-index trade; the cap exists to bound
    * join fan-out, and per-slice capping still bounds every slice's
    * contribution).
    *
    * TRANSACTIONAL like [[graft.operators.Similarity.appendToIvfIndex]]:
    * the slice lands as an immutable delta tree behind one CAS'd pointer
    * commit, and a `batchId` already in the committed state is skipped
    * (returns false) — replay-safe at the index level. */
  def appendToMediaLibraryIndex(spark: SparkSession, dir: String,
                                newMedia: DataFrame, idCol: String,
                                payloadCol: String,
                                batchId: Option[String] = None): Boolean = {
    // params resolve from ONE snapshot whose generation fences the commit:
    // a rebuild landing after this read aborts the append instead of
    // letting old-divisor chunks onto the new index
    val snap = IndexCommit.readSnapshot(dir, "chunks")
    val p = readParams(spark, snap)
    val (window, divisor, maxDf, nBuckets) = (p.getAs[Int]("window"),
      p.getAs[Int]("divisor"), p.getAs[Int]("max_df"), p.getAs[Int]("n_buckets"))
    // keep the id column NAME AND TYPE the builder used — a caller-side
    // rename or narrower id type must not fork the chunks schema (mixed
    // INT32/INT64 footers break the vectorized reader). Sidecar first
    // (no listing of the growing chunks tree); pre-sidecar indexes fall
    // back to one chunks schema inference.
    val (idName, idType) =
      if (p.schema.fieldNames.contains("id_name"))
        (p.getAs[String]("id_name"), p.getAs[String]("id_type"))
      else {
        val f = spark.read.parquet(snap.dirs.head).schema
          .filterNot(f => f.name == "ch" || f.name == "bucket").head
        (f.name, f.dataType.catalogString)
      }
    val slice = cdcChunkHashes(newMedia, idCol, payloadCol, window, divisor, maxDf)
      .select(col(idCol).cast(idType).as(idName), col("ch"),
        pmod(col("ch"), lit(nBuckets.toLong)).cast("int").as("bucket"))
    IndexCommit.appendTree(spark, dir, "chunks", batchId,
        derivedFromBase = if (snap.version >= 0) Some(snap.baseVersion) else None) { tree =>
      slice.write.mode("overwrite").partitionBy("bucket").parquet(tree)
    }
  }

  /** Union of chunks trees with the partition column re-read as INT (the
    * type the builders write, so probe filters compare un-cast and pruning
    * engages). The schema derives from the already-read params sidecar row
    * (id name/type ride it since the sidecar gained those fields; ch and
    * bucket are fixed by the layout), so planning does ZERO tree listing or
    * footer inference — before r18 every probe ran
    * [[IndexCommit.inferAcross]] over the live trees (a driver-side
    * metadata pass per probe, §6; ProbeProf billed the snapshot+infer
    * stage ~0.3 s of the 1.5 s head at sf0.1, and at corpus scale the
    * listing grows with the tree count). Pre-id_name sidecars (legacy
    * indexes) keep the inference fallback. */
  private def readChunkTrees(spark: SparkSession, dirs: Seq[String],
                             params: org.apache.spark.sql.Row): DataFrame = {
    import org.apache.spark.sql.types._
    val schema =
      if (params.schema.fieldNames.contains("id_name"))
        StructType(Seq(
          StructField(params.getAs[String]("id_name"),
            org.apache.spark.sql.catalyst.parser.CatalystSqlParser
              .parseDataType(params.getAs[String]("id_type"))),
          StructField("ch", LongType), StructField("bucket", IntegerType)))
      else {
        val inferred = IndexCommit.inferAcross(spark, dirs).getOrElse(
          throw new IllegalArgumentException(
            "pre-sidecar chunk index with every tree empty: schema is " +
              "unrecoverable (rebuild with writeMediaLibraryIndex)"))
        StructType(inferred.map {
          case f if f.name == "bucket" => f.copy(dataType = IntegerType)
          case f => f
        })
      }
    dirs.map(d => spark.read.schema(schema).parquet(d)).reduce(_.unionByName(_))
  }

  /** Fold the persisted chunk library back to ONE file per bucket AND
    * re-apply the df cap GLOBALLY — the maintenance pass the per-slice cap
    * contract of [[appendToMediaLibraryIndex]] defers to: a chunk whose
    * document frequency exceeds `max_df` only ACROSS appended slices kept
    * all its postings (bounding each slice's join fan-out but not the
    * union's); compaction recomputes df over the union and drops the
    * now-heavy chunks, so probe results may TIGHTEN to exactly what a
    * fresh build over the union would produce (pinned by the
    * `multimodal_probe_compacted` oracle). Reader-transparent like
    * [[graft.operators.Similarity.compactIvfIndex]]: one CAS'd pointer
    * flip, no quiesce window, rival appends survive (their slices simply
    * miss this pass's global re-cap). */
  def compactMediaLibraryIndex(spark: SparkSession, dir: String): Unit = {
    // params + source trees from ONE snapshot (IndexCommit.compactTreesFrom):
    // a rebuild landing between the two reads can never make this pass
    // apply one generation's df cap to another's trees — and the commit's
    // source-tree guard aborts if a rebuild lands during the rewrite
    val st0 = IndexCommit.loadOrBootstrap(dir, "chunks")
    val paramsPath = graft.meta.MetaLog.join(dir,
      st0.sidecars.getOrElse("params", "params"))
    val p = spark.read.parquet(paramsPath).collect().head
    val maxDf = p.getAs[Int]("max_df")
    IndexCommit.compactTreesFrom(spark, dir, "chunks", st0) { (srcs, target) =>
      val all = OpUtil.shared(readChunkTrees(spark, srcs, p))
      val heavy = all.groupBy("ch").count()
        .where(col("count") > maxDf).select("ch")
      all.join(heavy, Seq("ch"), "left_anti")
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(target)
    }
  }

  /** Reclaim superseded/orphaned chunks trees — see
    * [[graft.operators.IndexCommit.vacuum]] for the grace-period
    * contract. */
  def vacuumMediaLibraryIndex(spark: SparkSession, dir: String,
                              graceMs: Long = 0L): Seq[String] =
    IndexCommit.vacuum(spark, dir, "chunks", graceMs)

  /** [[mediaDedupProbe]] against a PERSISTED library index with two
    * plan-level guarantees (both pinned in PlanAuditSpec):
    *
    *  1. the library NEVER shuffles — the incoming (micro-batch-sized) chunk
    *     rows broadcast, so the join is a BroadcastHashJoin with the library
    *     scan as the streamed side, no Exchange anywhere above it;
    *  2. the library scan plans over ONLY the probed `bucket=N/` partitions —
    *     the incoming chunks' distinct buckets (bounded by `nBuckets`, never
    *     by the batch size — a legal driver collect) push as a static `isin`
    *     partition filter, pruned at planning time.
    *
    * Results are bit-identical to the in-memory probe on the same index.
    *
    * The incoming chunk set must fit a broadcast: past `maxProbeChunks`
    * (default [[MaxProbeChunks]]) the probe FAILS FAST naming the knob
    * rather than OOMing the driver mid-broadcast — the scaladoc's
    * "micro-batch-sized" contract, enforced. Corpus-vs-corpus jobs belong
    * on [[binaryNearDupsCdc]] (shuffle equi-join, no broadcast).
    *
    * `incoming` must be DETERMINISTIC: it is evaluated twice, once for the
    * guard count and the probed buckets and once for the broadcast build.
    * A nondeterministic frame (an unseeded sample, say) could pass the
    * guard with rows other than the ones it broadcasts, and probe buckets
    * other than its own; persist such a frame before probing with it. */
  def mediaDedupProbeAt(spark: SparkSession, dir: String, incoming: DataFrame,
                        idCol: String, payloadCol: String,
                        minShared: Int = 4,
                        maxProbeChunks: Long = MaxProbeChunks,
                        version: Option[Long] = None): DataFrame = {
    // params + trees from ONE snapshot: a rebuild flipping the pointer
    // mid-probe can never pair new-divisor probe chunks with old trees
    val snap = IndexCommit.readSnapshot(dir, "chunks", version)
    val p = readParams(spark, snap)
    val (window, divisor, nBuckets) =
      (p.getAs[Int]("window"), p.getAs[Int]("divisor"), p.getAs[Int]("n_buckets"))
    // NOT shared()-cached (r18): the chunk set is micro-batch-bounded by
    // contract (the guard below), so re-chunking it once for the guard agg
    // and once for the broadcast build costs less than the cache's
    // copy+persist+read machinery did (ProbeProf: ~0.2 s of a 1.4 s head),
    // and leaves no executor-storage block behind per probe call.
    val inc = cdcChunkRows(incoming, idCol, payloadCol, window, divisor)
      .select(col(idCol).as("incoming"), col("ch"))
    // ONE pass answers BOTH driver questions — the guard count and the
    // probed-bucket set (bounded by nBuckets, a legal collect): two
    // separate jobs before r18 (§1.2: the probe's fixed per-job latency
    // was a third of the head)
    val g = inc.agg(count(lit(1)),
      collect_set(pmod(col("ch"), lit(nBuckets.toLong)).cast("int"))).collect().head
    val nChunks = g.getLong(0)
    if (nChunks > maxProbeChunks) throw new IllegalArgumentException(
      s"mediaDedupProbeAt: incoming batch chunked to $nChunks rows > " +
        s"maxProbeChunks=$maxProbeChunks — the probe BROADCASTS the incoming " +
        "chunk set (micro-batch screens only); raise maxProbeChunks if the " +
        "driver can hold it, or use binaryNearDupsCdc for corpus-vs-corpus")
    val probed = g.getSeq[Int](1)
    // partition-column dtype: directory values 0..nBuckets-1 infer INT, and
    // the literals must match un-cast for pruning to engage (the
    // readIvfIndex lesson) — bucket was written as INT, probed is Seq[Int].
    // Trees resolve through the commit pointer: one committed snapshot,
    // stable under concurrent append/compact.
    val chunks = readChunkTrees(spark, snap.dirs, p)
    val libId = chunks.columns.filterNot(c => c == "ch" || c == "bucket") match {
      case Array(one) => one
      case other => throw new IllegalArgumentException(
        s"library index must carry (id, ch, bucket), got ${other.mkString(",")}")
    }
    val lib = chunks.where(col("bucket").isin(probed: _*))
      .select(col(libId).as("existing"), col("ch"))
    broadcast(inc).join(lib, Seq("ch"))
      .where(col("incoming") =!= col("existing"))
      .groupBy("incoming", "existing").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** [[binaryNearDups]] over content-defined chunks — catches byte-inserted
    * / byte-deleted near-copies the fixed grid provably misses (every
    * post-edit grid chunk shifts). Same inverted-index equi-join plan. */
  def binaryNearDupsCdc(df: DataFrame, idCol: String, payloadCol: String,
                        window: Int = 8, divisor: Int = 16,
                        minShared: Int = 2, maxDf: Int = 64): DataFrame = {
    val ch = cdcChunkHashes(df, idCol, payloadCol, window, divisor, maxDf,
      cacheCapped = true)
    val a = ch.select(col(idCol).as("i"), col("ch"))
    val b = ch.select(col(idCol).as("j"), col("ch"))
    a.join(b, Seq("ch")).where(col("i") < col("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Chunk-overlap near-dup pairs over opaque binary payloads: medias
    * sharing at least `minShared` distinct (df-capped) chunks, as
    * `(i, j, n_shared)` with i < j — integer counts, bit-reproducible.
    * Plan: one inverted-index equi-join on 8-byte chunk hashes (the
    * [[Dedup.ngramJaccard]] shape), never an all-pairs product.
    *
    * CONTRACT: `idCol` must be unique per row (the media-table shape).
    * Chunk dedup is per-PAYLOAD — a duplicated id contributes duplicate
    * (id, ch) rows and inflates that id's `n_shared` counts. Pre-aggregate
    * (`dropDuplicates(idCol)`) before calling if the input can repeat ids;
    * the operator does not pay that shuffle for the common case. Applies
    * equally to [[binaryNearDupsCdc]] and [[mediaDedupProbe]]. */
  def binaryNearDups(df: DataFrame, idCol: String, payloadCol: String,
                     chunkBytes: Int = 64, minShared: Int = 2,
                     maxDf: Int = 64): DataFrame = {
    val ch = binaryChunkHashes(df, idCol, payloadCol, chunkBytes, maxDf,
      cacheCapped = true)
    val a = ch.select(col(idCol).as("i"), col("ch"))
    val b = ch.select(col(idCol).as("j"), col("ch"))
    a.join(b, Seq("ch")).where(col("i") < col("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Exact byte-level duplicate groups: payloads hashing identically
    * (`hash60(upper(hex(payload)))` — the md5-family content address),
    * with the group's representative = the lowest id ([[Dedup.exact]]'s
    * convention for text, applied to media bytes). */
  def binaryExactDups(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.select(col(idCol),
        graft.functions.Portable.hash60(upper(hex(col(payloadCol)))).as("h"))
      .groupBy("h")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .where(col("n_copies") > 1)

  /** Wrap a text/metadata DataFrame as media records (content-type routed by
    * id — the shape of a crawl table where payloads arrive as raw bytes). */
  def fromDocuments(spark: SparkSession, docs: DataFrame,
                    idCol: String, textCol: String): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(
      col(idCol).cast("long").as("media_id"),
      element_at(array(lit("image/png"), lit("audio/wav"), lit("video/mp4")),
        (col(idCol) % 3 + 1).cast("int")).as("content_type"),
      col(textCol).cast("binary").as("payload"),
      map(lit("origin"), lit("documents")).as("meta"))
      .as[MediaRecord]
  }

  /** One decoded record via the REAL pure-JVM codecs ([[MediaCodecs]]):
    * `audio/wav` → RIFF chunk walk + PCM16 sample stats, `image/bmp` →
    * BITMAPINFOHEADER + channel sums, `image/png`/`image/jpeg` → the JDK's
    * own ImageIO readers (bundled with every stock JDK — no native libs) →
    * sRGB channel sums, `video/mp4` → the ISO-BMFF box walk (display dims,
    * mvhd duration, total stsz samples; sample_rate = the first audio
    * track's mdhd timescale, 0 if video-only — per-track codec fourccs
    * live on the dedicated `multimodal_decode_mp4` query shape),
    * `audio/flac` → STREAMINFO bit-fields. Container-level for MP4/FLAC:
    * sample payloads need native codecs, but the fields a curation
    * pipeline filters on are all here. An unrecognized content type
    * throws — the deterministic fake featureizer is [[decodeFeatures]],
    * by explicit choice, never a silent fallback of the REAL path. */
  def decodeOneMedia(r: MediaRecord): DecodedMedia = {
    val n = if (r.payload == null) 0L else r.payload.length.toLong
    r.content_type match {
      case "audio/wav" =>
        val w = MediaCodecs.decodeWav(r.payload)
        DecodedMedia(r.media_id, r.content_type, n, 0L, 0L,
          w.channels, w.sampleRate, w.nSamples, w.durationMs,
          0L, 0L, 0L, w.sumAbs, w.peak)
      case "image/bmp" =>
        val b = MediaCodecs.decodeBmp(r.payload)
        DecodedMedia(r.media_id, r.content_type, n, b.width, b.height,
          0L, 0L, 0L, 0L, b.sumR, b.sumG, b.sumB, 0L, 0L)
      case "image/png" | "image/jpeg" =>
        val i = MediaCodecs.decodeImage(r.payload)
        DecodedMedia(r.media_id, r.content_type, n, i.width, i.height,
          0L, 0L, 0L, 0L, i.sumR, i.sumG, i.sumB, 0L, 0L)
      case "video/mp4" =>
        val m = MediaCodecs.decodeMp4(r.payload)
        DecodedMedia(r.media_id, r.content_type, n, m.width, m.height,
          0L, m.audioRate, m.nSamples, m.durationMs, 0L, 0L, 0L, 0L, 0L)
      case "audio/flac" =>
        val f = MediaCodecs.decodeFlac(r.payload)
        DecodedMedia(r.media_id, r.content_type, n, 0L, 0L,
          f.channels, f.sampleRate, f.totalSamples, f.durationMs,
          0L, 0L, 0L, 0L, 0L)
      case other => throw new IllegalArgumentException(
        s"no pure-JVM decoder for content type '$other' (wav/bmp/png/jpeg/" +
          "mp4/flac decode for real; use decodeFeatures for the " +
          "deterministic pipeline-shape featureizer)")
    }
  }

  /** Distributed REAL decode — same mapPartitions batch shape as
    * [[decodeFeatures]] (one decoder per partition, streaming iterator);
    * only the per-record decode differs: [[MediaCodecs]] for WAV/BMP,
    * stub for the rest. */
  def decodeMedia(records: Dataset[MediaRecord]): Dataset[DecodedMedia] = {
    import records.sparkSession.implicits._
    records.mapPartitions(_.map(decodeOneMedia))
  }

  /** Slice every MP4 sample's ACTUAL bytes out of its container
    * ([[MediaCodecs.mp4SampleTable]]'s resolved ranges) — codec-free frame
    * extraction, the deployment op the stbl walk exists for. Same 100 TB
    * shape as [[decodeMedia]]: a stateless flatMap over the corpus scan
    * (map-only — output bytes are bounded by input bytes, so no skew a
    * shuffle would fix). */
  def mp4SampleSlices(records: Dataset[MediaRecord]): Dataset[MediaSlice] = {
    import records.sparkSession.implicits._
    records.mapPartitions(_.flatMap { r =>
      val t = MediaCodecs.mp4SampleTable(r.payload)
      t.samples.map(s => MediaSlice(r.media_id, s.trackId.toLong, s.sampleIdx,
        s.dts, java.util.Arrays.copyOfRange(r.payload,
          s.byteOffset.toInt, (s.byteOffset + s.size).toInt)))
    })
  }

  /** Slice every FLAC frame's payload bytes (header end to the next frame's
    * sync) — the audio twin of [[mp4SampleSlices]], same map-only shape. */
  def flacFrameSlices(records: Dataset[MediaRecord]): Dataset[MediaSlice] = {
    import records.sparkSession.implicits._
    records.mapPartitions(_.flatMap { r =>
      val frames = MediaCodecs.flacFrameIndex(r.payload)
      frames.zipWithIndex.map { case (f, i) =>
        val start = (f.byteOffset + f.headerLen).toInt
        val end =
          if (i + 1 < frames.size) frames(i + 1).byteOffset.toInt
          else r.payload.length
        MediaSlice(r.media_id, 0L, f.frameIdx, f.sampleOffset,
          java.util.Arrays.copyOfRange(r.payload, start, end))
      }
    })
  }
}
