package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Larger-than-cache soak: the cheapest honest in-container probe of the
  * "would this survive 100×?" claim. Materializes a synthetic corpus
  * `mult`× the base SF (deterministic duplication with RE-KEYED ids — the
  * id spaces stay dense/contiguous so `base_offset == event_id` invariants
  * hold; document text gets a per-copy suffix so the dedup head sees
  * near-dups, not pure byte-dups), then runs one timed pass of the
  * scale-critical heads at 1× and at `mult`× IN THE SAME JVM and reports
  * the per-unit ratio `t_N / (t_1 · mult)`:
  *
  *   ≈1  → linear (the plan's shuffles/aggregates scale with data),
  *   ≤2  → inside the round's acceptance envelope,
  *   >2  → super-linear driver/metadata cost — a real 100 TB risk.
  *
  * Heads: eslog append (full commit pipeline), scan (manifest-pruned fetch
  * + payload hash), dedup_minhash (shingle → band → bucket join),
  * sim_ivf_pq (train + encode + ADC probe), backfill (tiered objects →
  * imported boundaries at original offsets). One JSON line on stdout;
  * single-shot figures (this is a shape probe, not a certified benchmark —
  * the gated figures live in Bench).
  */
object Soak {

  private def f3(x: Double): String = f"$x%.3f"

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = sys.env.getOrElse("SPARK_GRAFT_SOAK_MULT", "10").toInt
    require(mult >= 2)
    val spark = HarnessSession(32)

    def force(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // ---- materialize the mult× corpus (untimed) --------------------------
    val soakDir = java.nio.file.Files.createTempDirectory("graft-soak-").toString
    val copies = spark.range(mult).select(col("id").cast("long").as("k"))
    // events: id' = id·mult + k keeps the id space exactly 0..N·mult-1
    // (contiguous — the append invariant base_offset == event_id holds)
    Fixtures.events(spark, base).crossJoin(copies).select(
        (col("event_id") * mult + col("k")).as("event_id"),
        col("ts"), col("user_id"), col("event_type"), col("value"), col("props"))
      .write.parquet(s"$soakDir/events.parquet")
    spark.read.parquet(s"$base/documents.parquet").crossJoin(copies).select(
        (col("doc_id") * mult + col("k")).as("doc_id"),
        // per-copy suffix: copies are NEAR-dups (the honest dedup load),
        // not byte-dups a content hash would fold before the heavy join
        concat(col("text"), lit(" v"), col("k")).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .write.parquet(s"$soakDir/documents.parquet")
    spark.read.parquet(s"$base/embeddings.parquet").crossJoin(copies).select(
        (col("vec_id") * mult + col("k")).as("vec_id"),
        col("embedding"), col("label"))
      .write.parquet(s"$soakDir/embeddings.parquet")

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }

    // JIT/codegen warm on a tiny synthetic corpus (same treatment as Bench):
    // the soak compares 1× vs mult× — both timed runs must be post-warm
    val warmDocs = spark.range(200).select(
      col("id").as("doc_id"),
      concat_ws(" ", (0 until 12).map(i => expr(s"cast(id % ${i + 7} as string)")): _*).as("text"))
    force(graft.operators.Dedup.minHashLshCandidates(warmDocs, "doc_id", "text"))
    locally {
      val wdir = java.nio.file.Files.createTempDirectory("soak-warm-").toString
      graft.eslog.EsLog.create(wdir, streamId = 98L)
      graft.eslog.EsLog.open(wdir, 1L)
      val wb = spark.range(64).select(
        col("id"), expr("cast(repeat(uuid(), 50) as binary)").as("payload"))
      graft.eslog.EsLog.append(spark, wdir, wb, 1L)
      graft.eslog.EsLog.scan(spark, wdir).agg(count(lit(1))).collect()
    }

    val results = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    def head(name: String)(body: String => Unit): Unit = {
      val t1 = timed(body(base))
      Fixtures.dropFresh()
      val tN = timed(body(soakDir))
      Fixtures.dropFresh()
      results(name) = (t1, tN)
      System.err.println(s"[soak] $name: 1x ${f3(t1)}s  ${mult}x ${f3(tN)}s  " +
        s"per-unit ${f3(tN / (t1 * mult))}")
    }

    // 1. append: the full commit pipeline over a fresh stream per run
    head("append_events") { dir => Fixtures.eventsStreamFresh(spark, dir); () }
    // streams for the read/backfill heads, built once per dir (untimed)
    val stream1 = Fixtures.eventsStream(spark, base)
    val streamN = Fixtures.eventsStream(spark, soakDir)
    def streamOf(dir: String): String = if (dir == base) stream1 else streamN
    // 2. scan: manifest-backed fetch + full payload hash
    head("scan_events") { dir =>
      graft.eslog.EsLog.scan(spark, streamOf(dir))
        .agg(expr("bit_xor(xxhash64(payload))"), sum(col("base_offset"))).collect()
      ()
    }
    // 3-4. the two heaviest LLM-pipeline registry heads, verbatim
    Seq("dedup_minhash", "sim_ivf_pq").foreach { q =>
      head(q) { dir => force(SparkEntry.queries(q)(spark, dir)) }
    }
    // 5. export: re-encode the committed stream as reference-layout tiered
    //    objects (fetch + per-batch FlatRecordBatch encode), forced by the
    //    metadata aggregate so no object bytes cross to the driver — the
    //    r16 bench's worst head joins the soak so a super-linear export
    //    path can never hide behind the other heads again
    head("export_objects") { dir =>
      val st = streamOf(dir)
      graft.eslog.EsLog.exportObjects(spark, st, 0L,
        graft.meta.MetaLog.load(st).nextOffset)
        .agg(sum(col("data_len")), count(lit(1))).collect()
      ()
    }
    // 6. backfill: export reference-layout objects (untimed), land them at
    //    original offsets under imported boundaries (timed)
    val obj1 = java.nio.file.Files.createTempDirectory("soak-obj1-").toString + "/b"
    val objN = java.nio.file.Files.createTempDirectory("soak-objN-").toString + "/b"
    graft.eslog.EsLog.exportObjectFiles(spark, stream1, obj1,
      0L, graft.meta.MetaLog.load(stream1).nextOffset, maxObjectBytes = 8 * 1024 * 1024)
    graft.eslog.EsLog.exportObjectFiles(spark, streamN, objN,
      0L, graft.meta.MetaLog.load(streamN).nextOffset, maxObjectBytes = 8 * 1024 * 1024)
    head("backfill_objects") { dir =>
      val dst = Fixtures.importedStreamFresh(spark, 0L)
      graft.eslog.EsLog.backfillObjectDir(spark, dst,
        if (dir == base) obj1 else objN, 1L)
      ()
    }

    val heads = results.map { case (n, (t1, tN)) =>
      s""""$n":{"x1_sec":${f3(t1)},"x${mult}_sec":${f3(tN)}""" +
      s""","per_unit_ratio":${f3(tN / (t1 * mult))}}"""
    }.mkString("{", ",", "}")
    val worst = results.values.map { case (t1, tN) => tN / (t1 * mult) }.max
    println(s"""{"soak":1,"base":"$base","mult":$mult,"heads":$heads""" +
      s""","worst_per_unit_ratio":${f3(worst)},"pass_2x":${worst <= 2.0}}""")
    spark.stop()
  }
}
