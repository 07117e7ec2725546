package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.storage.StorageLevel

private[graft] object OpUtil {

  /** Exploded word k-gram rows (`idCol.as("doc")`, `g` = space-joined gram):
    * the same (doc, gram) multiset as `explode(Portable.wordShingles(..))`,
    * built codegen-friendly — explode an index range, then scalar
    * slice/concat_ws. The higher-order `transform` lambda never enters
    * whole-stage codegen and its per-gram interpreter dominated the explode
    * stage wherever it was used (first measured in the jaccard path). */
  def explodedWordShingles(docs: DataFrame, idCol: String, textCol: String,
                           k: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    explodedShinglesFromTokens(
      rebalance(docs).select(col(idCol).as("doc"),
        split(col(textCol), " ").as("toks")), k)
  }

  /** The shingle construction itself, over a frame carrying a `toks` token
    * array — the ONE place the k-gram semantics live. Every other column
    * rides through (e.g. a streaming event-time column); `toks` is replaced
    * by the exploded gram `g`. Stream-safe (no [[rebalance]], whose
    * partition-count probe executes its input, which a streaming frame
    * forbids), so the streaming screening fixtures share it instead of
    * re-deriving the explode chain. */
  def explodedShinglesFromTokens(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    // `g` (the output gram) and `i` (the explode alias) are reserved: a
    // pass-through column with either name would become an ambiguous
    // reference downstream — reject loudly instead
    require(!docs.columns.exists(c => c == "g" || c == "i"),
      s"input must not carry reserved columns 'g'/'i': ${docs.columns.mkString(",")}")
    val idx = when(size(col("toks")) >= k,
      sequence(lit(1), size(col("toks")) - (k - 1)))
      .otherwise(array().cast("array<int>"))
    val keep = docs.columns.filterNot(_ == "toks").map(col).toIndexedSeq
    docs.select(keep :+ col("toks") :+ explode(idx).as("i"): _*)
      .select(keep :+ concat_ws(" ", slice(col("toks"), col("i"), lit(k))).as("g"): _*)
  }

  /** Materialize-once sharing for a frame consumed by several plan subtrees
    * (self-join sides, per-doc sizes, the heavy-hitter build). Spark's
    * exchange-reuse rule does not dedupe identical subtrees across
    * broadcast/subquery boundaries here, so each consumer would re-run the
    * whole explode+hash pipeline (measured: 8 scans of the source per
    * jaccard query). The rows are cached ONCE as an InternalRow RDD (copied
    * out of the scan's reused buffers) and the frame re-rooted on it; the
    * ContextCleaner unpersists automatically once the last consumer frame
    * is garbage-collected, so the cache has the operator's lifetime, not
    * the session's. */
  def shared(df: DataFrame): DataFrame = sharedWithHandle(df)._1

  /** Ceiling on LIVE [[shared]] caches before the oldest is unpersisted
    * eagerly (`spark.graft.sharedCacheMaxLive` overrides). The registry
    * holds its caches WEAKLY, so a cache whose frames are all gone is
    * reclaimed by the ContextCleaner as soon as a GC runs, however few
    * caches are live; the cap is the backstop for a long-lived session
    * that keeps many frames alive at once, whose MEMORY_AND_DISK blocks
    * would otherwise accumulate (r17 verdict item). Eviction is
    * correctness-neutral: an unpersisted shared RDD recomputes from its
    * lineage on next use — the worst case is the pre-cache recompute cost,
    * never a wrong result. The default comfortably covers one query's
    * caches (≤4) times a realistically concurrent query count;
    * SharedCacheSpec pins both the bound and post-eviction recompute. */
  private val SharedCacheMaxLiveKey = "spark.graft.sharedCacheMaxLive"
  private val SharedCacheMaxLiveDefault = 64
  private val liveShared =
    new java.util.ArrayDeque[java.lang.ref.WeakReference[org.apache.spark.rdd.RDD[_]]]()
  /** Drops registry entries whose RDD has been garbage-collected. */
  private def pruneCleared(): Unit = { liveShared.removeIf(_.get == null); () }
  /** Live shared-cache count (test seam). */
  private[graft] def liveSharedCount: Int = liveShared.synchronized {
    pruneCleared()
    liveShared.size
  }

  /** [[shared]], also returning the backing RDD so an iterative caller can
    * unpersist each round's cache EXPLICITLY once the next round is
    * materialized — waiting for the ContextCleaner means O(iterations)
    * caches pinned in executor storage on a long-running fixpoint. */
  def sharedWithHandle(df: DataFrame): (DataFrame, org.apache.spark.rdd.RDD[_]) = {
    val spark = df.sparkSession
    val rdd = GraftShims.internalRdd(df).map(_.copy())
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    val cap = try spark.conf.get(SharedCacheMaxLiveKey,
      SharedCacheMaxLiveDefault.toString).toInt
    catch { case _: NumberFormatException => SharedCacheMaxLiveDefault }
    liveShared.synchronized {
      pruneCleared()
      liveShared.addLast(new java.lang.ref.WeakReference(rdd))
      while (liveShared.size > math.max(1, cap))
        Option(liveShared.removeFirst().get).foreach(_.unpersist(blocking = false))
    }
    (GraftShims.dfFromInternalRdd(spark, rdd, df.schema), rdd)
  }
  /** Re-balance a frame about to enter a CPU-bound expansion stage (shingle /
    * token / bucket explode multiplies rows ~tokens×): Spark's scan
    * partitioning is byte-based, so a few-MB documents file arrives as one
    * partition and the whole explode+hash pipeline runs serially. When the
    * input has fewer partitions than the session's parallelism, shuffle it
    * out; at cluster scale inputs already arrive with thousands of
    * partitions and this is a no-op. Counting an adaptive input's partitions
    * runs its shuffle stages, so the result is re-rooted on that execution
    * ([[GraftShims.withPartitionCount]]) and the query that follows does
    * not run them again; a plain scan runs no job and keeps its pruning. */
  def rebalance(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val (planned, n) = GraftShims.withPartitionCount(df)
    if (n < target) planned.repartition(target) else planned
  }
}
