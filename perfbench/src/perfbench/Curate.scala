package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.eslog.EsLog
import graft.operators.{Dedup, TextOps}

/** llm_curate: a seeded corpus with planted exact duplicates,
  * near-duplicates and low-quality documents, stored as an eslog stream
  * (document id = offset). One operation is one curation pass: fetch ->
  * `TextOps.qualityFilter` -> `Dedup.exact` -> `Dedup.minHashNearDups`
  * (MinHash LSH, 16 hashes in 4 bands, verified at 3-shingle Jaccard
  * >= 0.5) -> `Dedup.nearDupClusters` -> `Dedup.clusterRepresentatives`
  * (longest text, then lowest id) -> append the survivors to a fresh
  * stream. After each pass, outside its timed window, the survivors and
  * the verified pairs are checked against the planted structure. */
final class Curate(ctx: Ctx) extends Workload {
  import Curate._
  private val spark = ctx.spark
  private val tr = ctx.tr

  private val scale = ctx.conf.corpusScale
  private val corpus = Gen.corpus(ctx.seed, Clean * scale, ExactGroups * scale,
    NearPairs * scale, Low * scale)
  private val texts: Map[Long, String] = corpus.docs.map(d => d.id -> d.text).toMap

  private def store(): String = {
    val dir = ctx.fresh("corpus")
    EsLog.create(dir, streamId = 4L)
    EsLog.open(dir, 1L)
    val rows = corpus.docs.toSeq.map(d => Row(d.text.getBytes("UTF-8")))
    val df = spark.createDataFrame(rows.asJava, StructType(Seq(StructField("payload", BinaryType))))
    val (first, next) = EsLog.append(spark, dir, df, 1L, sortKey = None, numPartitions = 1)
    ctx.check(first == 0 && next == corpus.docs.length, s"corpus stored at [$first, $next)")
    dir
  }

  private val stageCaches = mutable.ArrayBuffer.empty[DataFrame]

  /** In the traced run each step's output is materialised inside its own
    * span, so that the steps' CPU times separate; untraced, the pass stays
    * lazy up to the append. */
  private def step(name: String)(df: => DataFrame): DataFrame =
    if (!tr.enabled) df
    else tr.span(name) {
      val d = df.persist(StorageLevel.MEMORY_ONLY); d.count(); stageCaches += d; d
    }

  /** One curation pass into a fresh stream; returns it with the pass's
    * verified pairs and its deduplicated input. */
  private def pass(src: String): (String, DataFrame, DataFrame) = {
    val docs = EsLog.fetch(spark, src)
      .select(col("base_offset").as("id"), col("payload").cast("string").as("text"))
    val kept = step("op.quality") {
      docs.join(TextOps.qualityFilter(docs, "id", "text").where(col("keep")).select("id"), "id")
    }
    val uniq = step("op.exact") {
      kept.join(Dedup.exact(kept, "id", "text").select("id"), "id")
    }
    val pairs = step("op.minhash") { Dedup.minHashNearDups(uniq, "id", "text") }
    val clusters = step("op.clusters") {
      Dedup.nearDupClusters(pairs).select(col("doc").as("doc_id"), col("cluster").as("cluster_id"))
    }
    val losers = step("op.representatives") {
      val reps = Dedup.clusterRepresentatives(clusters,
        uniq.select(col("id").as("doc_id"), length(col("text")).as("score")))
      clusters.join(reps.select(col("rep_id").as("doc_id")), Seq("doc_id"), "left_anti")
    }
    val out = ctx.fresh("curated")
    EsLog.create(out, streamId = 5L)
    EsLog.open(out, 1L)
    val survivors = uniq.join(losers, uniq("id") === losers("doc_id"), "left_anti")
      .select(col("text").cast("binary").as("payload"),
        map(lit("id"), col("id").cast("string")).as("properties"))
    tr.span("op.append")(EsLog.append(spark, out, survivors, 1L))
    (out, pairs, uniq)
  }

  // recall floor: expected detections under 1-(1-J^4)^4 less four standard deviations
  private val minResolved = {
    val ps = corpus.nearPairs.map(p => Gen.lshHit(p._3))
    ps.sum - 4 * math.sqrt(ps.map(p => p * (1 - p)).sum)
  }

  /** Checks a pass's output stream and verified pairs against the planted
    * structure. */
  private def verify(out: String, pairs: Array[(Long, Long)]): Unit = {
    val rows = EsLog.fetch(spark, out)
      .select(col("properties").getItem("id").cast("long"), crc32(col("payload"))).collect()
    val ids = rows.map(_.getLong(0)).toSet
    ctx.check(ids.size == rows.length, "a document was written twice")
    rows.foreach(r => ctx.check(texts.get(r.getLong(0)).exists(t =>
      Gen.crc(t.getBytes("UTF-8")) == r.getLong(1)), s"document ${r.getLong(0)} corrupted"))
    ctx.check(corpus.lowQuality.forall(i => !ids(i)), "a low-quality document survived")
    corpus.exactGroups.foreach { g =>
      ctx.check(ids(g.head) && g.tail.forall(i => !ids(i)),
        s"exact group ${g.mkString(",")} did not keep exactly its lowest id")
    }
    pairs.foreach { case (a, b) =>
      ctx.check(Gen.jaccard3(texts(a), texts(b)) >= Threshold,
        s"verified pair ($a, $b) has 3-shingle Jaccard below $Threshold")
    }
    var resolved = 0
    corpus.nearPairs.foreach { case (a, b, _) =>
      (ids(a), ids(b)) match {
        case (true, true) => ()
        case (x, y) if x != y =>
          val rep = if (texts(a).length != texts(b).length) {
            if (texts(a).length > texts(b).length) a else b
          } else a
          ctx.check(ids(rep), s"near pair ($a, $b) did not keep its representative $rep")
          resolved += 1
        case _ => ctx.check(false, s"near pair ($a, $b) lost both documents")
      }
    }
    ctx.check(resolved >= minResolved,
      f"near-duplicate pairs resolved: $resolved of ${corpus.nearPairs.size}, below $minResolved%.1f")
    val planted = corpus.exactGroups.flatten.toSet ++ corpus.nearPairs.flatMap(p => Seq(p._1, p._2))
    corpus.docs.foreach { d =>
      if (!corpus.lowQuality(d.id) && !planted(d.id))
        ctx.check(ids(d.id), s"clean document ${d.id} was dropped")
    }
  }

  private val verified = mutable.ArrayBuffer.empty[Double]
  private val candidates = mutable.ArrayBuffer.empty[Double]
  private var cachedAfter = 0.0
  private var stored = 0L

  private def curate(src: String, timed: Boolean): Unit = {
    val r = if (timed) ctx.op("curate", corpus.bytes)(pass(src)) else Some(pass(src))
    r.foreach { case (out, pairs, uniq) =>
      val ps = pairs.select("i", "j").collect().map(p => (p.getLong(0), p.getLong(1)))
      verify(out, ps)
      stageCaches.foreach(_.unpersist(blocking = true)); stageCaches.clear()
      if (timed) {
        verified += ps.length
        // before the candidate count below, which caches shingles of its own
        cachedAfter = spark.sparkContext.getPersistentRDDs.size.toDouble
        if (tr.enabled) candidates += Dedup.minHashLshCandidates(uniq, "id", "text").count().toDouble
        stored += ctx.dirBytes(out)
      }
      ctx.rm(out)
    }
  }

  def run(): Unit = {
    ctx.log(s"corpus of ${corpus.docs.length} documents, ${corpus.bytes} bytes of text")
    val src = store()
    for (_ <- 0 until WarmupPasses) curate(src, timed = false)
    ctx.endSetup()
    for (_ <- 0 until ctx.timedRounds(RoundsPerSecond)) curate(src, timed = true)
    ctx.finish(Seq("curate"), ctx.heapRetainedMb(), stored + ctx.dirBytes(src))
    if (tr.enabled) traceLayers()
  }

  private def traceLayers(): Unit = {
    tr.drain()
    def med(xs: Seq[Double]) = Metrics.pct(xs, 0.5)
    for ((span, name) <- Seq("op.quality" -> "op.quality_cpu_ms", "op.exact" -> "op.exact_cpu_ms",
      "op.minhash" -> "op.minhash_cpu_ms", "op.clusters" -> "op.clusters_cpu_ms",
      "op.representatives" -> "op.representatives_cpu_ms"))
      ctx.layers(name) = (med(tr.spansNamed(span).map(_.cpuMs)), "ms")
    val passes = tr.opsOf("curate")
    def perPass(f: Tracer.Stage => Double) = med(passes.map(o => tr.stagesOf(o.id).map(f).sum))
    ctx.layers("op.tasks") = (perPass(_.tasks.toDouble), "count")
    ctx.layers("op.shuffle_mb") = (perPass(_.shuffleWrite / 1e6), "MB")
    ctx.layers("op.spill_mb") = (perPass(_.spill / 1e6), "MB")
    ctx.layers("op.candidate_pairs") = (med(candidates.toSeq), "count")
    ctx.layers("op.verified_pairs") = (med(verified.toSeq), "count")
    ctx.layers("op.cached_rdds_after_pass") = (cachedAfter, "count")
  }
}

object Curate {
  /** The corpus is `Scale` times the composition below (about 510
    * documents): about 2040 documents, where 39% of a pass's CPU is
    * per-document work. A larger corpus makes runs too long for the time a
    * comparison of two commits has (README.md, "llm_curate's corpus size"). */
  val Scale = 4
  val Clean = 300
  val ExactGroups = 30
  val NearPairs = 40
  val Low = 40
  val Threshold = 0.5
  val WarmupPasses = 1
  val RoundsPerSecond = 0.125
}
