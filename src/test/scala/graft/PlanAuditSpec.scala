package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** Physical-plan audits: the properties that make these operators viable at
  * 100 TB, asserted on the actual executed plans so regressions fail loudly.
  */
class PlanAuditSpec extends SparkTestBase {

  private def plan(df: DataFrame): String = {
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    df.queryExecution.executedPlan.toString
  }

  private def docs = {
    Fixtures.tune(spark)
    spark.read.parquet(sf("documents"))
  }
  private def emb = {
    Fixtures.tune(spark)
    spark.read.parquet(sf("embeddings"))
  }

  test("jaccard join is a hash/sort-merge equi-join, never cartesian") {
    val p = plan(Dedup.ngramJaccard(docs, "doc_id", "text"))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Join") || p.contains("Shuffle"), p)
  }

  test("minhash LSH candidates join on (band, signature) buckets, no cartesian") {
    val p = plan(Dedup.minHashLshCandidates(docs, "doc_id", "text"))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("brute-force ANN broadcasts the query side (no corpus shuffle for scoring)") {
    val p = plan(Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 5), "vec_id", "embedding", 3))
    // the deliberate pattern: corpus streams once, small query set broadcast
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("LSH ANN candidate join is an equi-join on (table, bucket)") {
    val p = plan(Similarity.hyperplaneLshTopK(emb, emb.where(col("vec_id") < 5),
      "vec_id", "embedding", k = 3, dim = 64))
    assert(!p.contains("CartesianProduct"), p)
    // bucket equality must appear as a join key (hash or broadcast-hash join),
    // not as a post-cross filter
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("embedding near-dup LSH path: bucket equi-join, never all-pairs") {
    val p = plan(Similarity.embeddingNearDupsLsh(emb, "vec_id", "embedding",
      threshold = 0.45, dim = 64))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("shingle df cap drops stop-shingles before the posting-list self-join") {
    import spark.implicits._
    // every doc shares the stop-shingle "a b c"; only docs 0/1 share a rare one
    val corpus = Seq(
      (0L, "a b c x0 y0 rare one two"),
      (1L, "a b c x1 y1 rare one two"),
      (2L, "a b c x2 y2 unrelated words here"),
      (3L, "a b c x3 y3 other stuff entirely")
    ).toDF("doc_id", "text")
    val capped = Dedup.cappedShingles(corpus, "doc_id", "text", k = 3, maxDf = 2)
    val uncapped = Dedup.cappedShingles(corpus, "doc_id", "text", k = 3, maxDf = 0)
    // the stop-shingle "a b c" (df=4) is gone from the posting list; no
    // surviving hash may appear in more than maxDf docs
    assert(capped.count() < uncapped.count())
    val maxSurvivingDf = capped.groupBy("hm").count()
      .agg(max("count")).collect().head.getLong(0)
    assert(maxSurvivingDf <= 2, s"df cap leaked: $maxSurvivingDf")
    // the capped join finds the genuinely-similar pair without the stop-shingle
    // blowup; jaccard values only use the capped universe on both sides
    val pairs = Dedup.ngramJaccard(corpus, "doc_id", "text", k = 3, threshold = 0.1, maxDf = 2)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), pairs.toString)
  }

  test("redaction replaces urls, emails and digit runs (in that order)") {
    import spark.implicits._
    val docs = Seq((1L, "visit https://x.io/a?b=1 or mail bob@ex.com room 42"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextOps.redact(docs, "doc_id", "text")
      .collect().head.getString(1)
    assert(out == "visit <URL> or mail <EMAIL> room <NUM>", out)
    val trunc = graft.operators.TextOps.truncateTokens(docs, "doc_id", "text", 3)
      .collect().head
    assert(trunc.getString(1) == "visit https://x.io/a?b=1 or" && trunc.getLong(2) == 3L)
  }

  test("normalization: casing, punctuation, digit folding, collapse; shuffle-free") {
    import spark.implicits._
    val docs = Seq((1L, "  Hello,\tWORLD!!  Page 42 & co. ")).toDF("doc_id", "text")
    val folded = graft.operators.TextOps.normalize(docs, "doc_id", "text")
      .collect().head.getString(1)
    assert(folded == "hello world page 00 co", folded)
    val kept = graft.operators.TextOps.normalize(docs, "doc_id", "text", foldDigits = false)
      .collect().head.getString(1)
    assert(kept == "hello world page 42 co", kept)
    // canonical forms collide where raw texts differ — the dedup-key purpose
    val pair = Seq((1L, "Page 17, ok"), (2L, "page 42 OK")).toDF("doc_id", "text")
    val norms = graft.operators.TextOps.normalize(pair, "doc_id", "text")
      .collect().map(_.getString(1)).distinct
    assert(norms.toSeq == Seq("page 00 ok"), norms.mkString("|"))
    val p = plan(graft.operators.TextOps.normalize(docs, "doc_id", "text"))
    assert(!p.contains("Exchange"), p)
  }

  test("bloom decontamination equals exact shared-gram counts at sane m; bench side broadcasts") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "entirely different words here"),
      (3L, "quick brown fox again today")).toDF("doc_id", "text")
    val bench = Seq((100L, "a quick brown fox appears")).toDF("doc_id", "text")
    val exact = Dedup.decontaminate(corpus, bench, "doc_id", "text", k = 3, maxDf = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloom = Dedup.decontaminateBloom(corpus, bench, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // no false negatives ever; at m = 2^20 over a handful of grams, no false
    // positives either (deterministic — the hash family is fixed)
    assert(exact == Map(1L -> 1L, 3L -> 1L), exact.toString)
    assert(bloom == exact, s"bloom $bloom vs exact $exact")
    // the benchmark side reaches the corpus only as a broadcast slot table
    val p = plan(Dedup.decontaminateBloom(corpus, bench, "doc_id", "text", k = 3))
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("decontamination: shared-gram counts, equi-join plan, no self-join blowup") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps"),   // shares "quick brown fox" with bench
      (2L, "entirely different words here"),
      (3L, "quick brown fox again today")).toDF("doc_id", "text")
    val bench = Seq((100L, "a quick brown fox appears")).toDF("doc_id", "text")
    val got = Dedup.decontaminate(corpus, bench, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs 1 and 3 share the "quick brown fox" 3-gram; doc 2 is clean
    assert(got == Map(1L -> 1L, 3L -> 1L), got)
    val p = plan(Dedup.decontaminate(corpus, bench, "doc_id", "text", k = 3))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("line dedup: drops cross-doc duplicated lines, keeps order, reports empty docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "unique one\nshared boiler\npair line"),
      (2L, "pair line\nshared boiler\nother text"),
      (3L, "shared boiler"),             // fully boilerplate -> comes back empty
      (4L, "repeat\nrepeat\nonly here")  // in-doc repeat: df counts DISTINCT docs
    ).toDF("doc_id", "text")
    val got = Dedup.dedupLines(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == (("unique one", 3L, 2L)), got(1L).toString)
    assert(got(2L) == (("other text", 3L, 2L)), got(2L).toString)
    assert(got(3L) == (("", 1L, 1L)), got(3L).toString)
    assert(got(4L) == (("repeat\nrepeat\nonly here", 3L, 0L)), got(4L).toString)
    // minDf = 3: the df-2 "pair line" survives, the df-3 boilerplate still drops
    val loose = Dedup.dedupLines(docs, "doc_id", "text", minDf = 3L).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(loose(1L) == "unique one\npair line", loose(1L))
    assert(loose(2L) == "pair line\nother text", loose(2L))
    // blank lines are structure, not boilerplate: the empty line between
    // paragraphs is in every doc (df would be corpus-wide) yet survives,
    // as does a trailing separator; minLen can raise the bar further
    val para = Seq(
      (1L, "alpha text\n\nbeta text\n"),
      (2L, "gamma text\n\ndelta text\n")).toDF("doc_id", "text")
    val kept = Dedup.dedupLines(para, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3)))).toMap
    assert(kept(1L) == (("alpha text\n\nbeta text\n", 0L)), kept(1L).toString)
    assert(kept(2L) == (("gamma text\n\ndelta text\n", 0L)), kept(2L).toString)
    val shortGuard = Dedup.dedupLines(
      Seq((1L, "ok\nlong unique line a"), (2L, "ok\nlong unique line b"))
        .toDF("doc_id", "text"),
      "doc_id", "text", minLen = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(shortGuard == Map(1L -> 0L, 2L -> 0L), shortGuard.toString)
    // NULL text is an empty doc, not a vanished row (row-per-doc contract)
    val withNull = Dedup.dedupLines(
      Seq((1L, "some text"), (2L, null.asInstanceOf[String])).toDF("doc_id", "text"),
      "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(withNull(2L) == (("", 1L, 0L)), withNull.toString)
    // a non-numeric position column is rejected loudly, never reordered
    val strPos = Seq((1L, "a", "x")).toDF("doc_id", "pos", "line")
    val ex = intercept[IllegalArgumentException] {
      Dedup.reassembleSegments(strPos, "doc_id", "pos", "line")
    }
    assert(ex.getMessage.contains("must be numeric"), ex.getMessage)
    // posCol resolves like any column reference: case-insensitive by default
    val mixedCase = Seq((1L, 1, "b"), (1L, 0, "a")).toDF("doc_id", "Pos", "line")
    val mixed = Dedup.reassembleSegments(mixedCase, "doc_id", "pos", "line")
      .collect().map(r => r.getString(1)).toSeq
    assert(mixed == Seq("a\nb"), mixed.toString)
    // df aggregate + anti-join + rebuild: equi-only plan
    val p = plan(Dedup.dedupLines(docs, "doc_id", "text"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("span dedup: windows merge to maximal spans, in-doc repeats survive, short docs pass") {
    import spark.implicits._
    val docs = Seq(
      (1L, "p q r s t u"),            // shares run "p q r s t" with doc 2
      (2L, "z1 p q r s t z2"),
      (3L, "m m m m"),                // in-doc repeat only: df counts DISTINCT docs
      (4L, "aa bb"),                  // shorter than k: untouched
      (5L, "p q r s t gap h i j"),    // TWO disjoint shared runs -> two spans
      (6L, "h i j zz p q r s t")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupSpans(docs, "doc_id", "text", k = 3).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1: windows 0,1,2 duplicated -> span [0,5) -> "u" survives
    assert(got(1L) == (("u", 6L, 5L)), got(1L).toString)
    // doc 2: windows 1,2,3 -> span [1,6) -> "z1 z2"
    assert(got(2L) == (("z1 z2", 7L, 5L)), got(2L).toString)
    assert(got(3L) == (("m m m m", 4L, 0L)), got(3L).toString)
    assert(got(4L) == (("aa bb", 2L, 0L)), got(4L).toString)
    // doc 5: spans [0,5) and [6,9) stay separate (6 >= 5: no overlap) -> "gap"
    assert(got(5L) == (("gap", 9L, 8L)), got(5L).toString)
    // doc 6: "h i j" at 0 and "p q r s t" at 4 -> spans [0,3) + [4,9) -> "zz"
    assert(got(6L) == (("zz", 9L, 8L)), got(6L).toString)
    // df aggregate + semi-join + window + anti-join: equi-only plan
    val p = plan(Dedup.dedupSpans(docs, "doc_id", "text", k = 3))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("contamination report: every doc reports, agrees with the any-hit filter") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "entirely different words here"),
      (3L, "quick brown fox again today")).toDF("doc_id", "text")
    val bench = Seq((100L, "a quick brown fox appears")).toDF("doc_id", "text")
    val rep = Dedup.decontaminateReport(corpus, bench, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // 5-word docs have 3 distinct 3-grams (doc 2 has 4 words -> 2);
    // docs 1/3 share "quick brown fox"
    assert(rep(1L) == ((3L, 1L, 333L)), rep(1L).toString)
    assert(rep(2L) == ((2L, 0L, 0L)), rep(2L).toString)
    assert(rep(3L) == ((3L, 1L, 333L)), rep(3L).toString)
    // n_shared agrees with decontaminate's flagged set exactly
    val flt = Dedup.decontaminate(corpus, bench, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep.collect { case (id, (_, s, _)) if s > 0 => id -> s } == flt)
    // shorter than k words: zero grams, zero permille (no division)
    val short = Seq((9L, "tiny doc")).toDF("doc_id", "text")
    val r2 = Dedup.decontaminateReport(short, bench, "doc_id", "text", k = 3).collect().head
    assert(r2.getLong(1) == 0L && r2.getLong(2) == 0L && r2.getLong(3) == 0L)
  }

  test("repetition signals: known values, hash-aggregate plan") {
    import spark.implicits._
    import graft.operators.TextOps
    // "a a a b": bigrams (a a), (a a), (a b) -> top 2/3, dup 1/3; "x": no
    // bigrams -> both 0.0
    val docs = Seq((1L, "a a a b"), (2L, "x")).toDF("doc_id", "text")
    val got = TextOps.repetition(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(math.abs(got(1L)._1 - 2.0 / 3) < 1e-12 && math.abs(got(1L)._2 - 1.0 / 3) < 1e-12, got)
    assert(got(2L) == ((0.0, 0.0)), got)
    val p = plan(TextOps.repetition(docs, "doc_id", "text"))
    assert(p.contains("HashAggregate") && !p.contains("CartesianProduct"), p)
  }

  test("chunking: hand-checked windows, full coverage, short tail, no shuffle") {
    import spark.implicits._
    import graft.operators.TextOps
    // 10 tokens, chunkSize 4, overlap 1 (stride 3): chunks at 0/3/6 ->
    // [t1..t4], [t4..t7], [t7..t10]; plus a short doc and an empty doc
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")),
      (2L, "a b"),
      (3L, "")).toDF("doc_id", "text")
    val got = TextOps.chunkTokens(docs, "doc_id", "text", chunkSize = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(got == Map(
      (1L, 0L) -> ((4L, "t1 t2 t3 t4")),
      (1L, 1L) -> ((4L, "t4 t5 t6 t7")),
      (1L, 2L) -> ((4L, "t7 t8 t9 t10")),
      (2L, 0L) -> ((2L, "a b")),
      (3L, 0L) -> ((1L, ""))), got.toString) // split("") = [""]: one empty token
    val p = plan(TextOps.chunkTokens(docs, "doc_id", "text", 4, 1))
    assert(!p.contains("Exchange") && !p.contains("Join"), p)
  }

  test("chunking invariants on random corpora: count formula, exact slices, lossless reconstruction") {
    import spark.implicits._
    import graft.operators.TextOps
    val rnd = new scala.util.Random(17)
    val docs = (0 until 150).map { i =>
      (i.toLong, (0 until rnd.nextInt(50)).map(j => s"w${rnd.nextInt(9)}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    val texts = docs.as[(Long, String)].collect().toMap
    for ((size, overlap) <- Seq((8, 0), (8, 3), (5, 4), (16, 15), (3, 1))) {
      val stride = size - overlap
      val got = TextOps.chunkTokens(docs, "doc_id", "text", size, overlap)
        .as[(Long, Long, Long, String)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
      texts.foreach { case (id, text) =>
        val toks = text.split(" ", -1) // split("") = [""], matching Spark
        val chunks = got(id)
        val expected = 1 + (math.max(toks.length - size, 0) + stride - 1) / stride
        assert(chunks.length == expected, s"doc $id size=$size ov=$overlap: ${chunks.length} != $expected")
        chunks.foreach { case (_, cid, n, chunk) =>
          val want = toks.slice((cid * stride).toInt, (cid * stride).toInt + size)
          assert(chunk == want.mkString(" "), s"doc $id chunk $cid")
          assert(n == want.length, s"doc $id chunk $cid n_tokens")
        }
        // lossless: stride-prefixes of all chunks + the tail of the last
        // chunk reassemble the original token stream exactly
        val rebuilt = chunks.flatMap { case (_, cid, _, chunk) =>
          val ct = chunk.split(" ", -1)
          if (cid == chunks.length - 1) ct else ct.take(stride)
        }
        assert(rebuilt.sameElements(toks), s"doc $id reconstruction size=$size ov=$overlap")
      }
    }
  }

  test("packing: sharded windows avoid the global sort; packs respect the budget") {
    import spark.implicits._
    import graft.operators.Sampling
    val docs = spark.range(100).select(
      col("id").as("doc_id"),
      concat_ws(" ", (0 until 10).map(_ => lit("w")): _*).as("text"), // 10 tokens each
      (col("id") % 4).as("shard"))
    // global: 10-token docs into 25-token packs -> docs 0,1 pack 0 (20 tok),
    // doc 2 pack 0 (cum_before 20 div 25 = 0, overflow by one doc), doc 3 pack 1
    val g = Sampling.packGreedy(docs.drop("shard"), "doc_id", "text", 25, shardCol = None)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(g(0L) == 0L && g(1L) == 0L && g(2L) == 0L && g(3L) == 1L, g.toString)
    // sharded: window is partitioned (no single-partition global sort)
    val sharded = Sampling.packGreedy(docs, "doc_id", "text", 25, shardCol = Some("shard"))
    val p = sharded.queryExecution.executedPlan.toString
    assert(p.contains("hashpartitioning(shard"), p)
    // per-shard pack ids restart at 0
    assert(sharded.where(col("pack_id") === 0).count() == 4 * 3)
    // deterministic hash sample: stable subset, exact re-run equality
    val s1 = Sampling.sampleByHash(docs, "doc_id", 3, 10).select("doc_id").collect().map(_.getLong(0)).sorted
    val s2 = Sampling.sampleByHash(docs, "doc_id", 3, 10).select("doc_id").collect().map(_.getLong(0)).sorted
    assert(s1.sameElements(s2) && s1.nonEmpty && s1.length < 100)
  }

  test("token-budget mixing: budgets respected exactly, greedy cut, deterministic order") {
    import graft.operators.Sampling
    val docs = Fixtures.documents(spark, "/root/testdata/sf0.001")
    val budgets = Seq("src0" -> 600L, "src1" -> 600L, "src2" -> 0L)
    val out = Sampling.sampleToTokenBudget(docs, "doc_id", "text", "source", budgets)
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // per-source: total within budget, and the NEXT doc in admission order
    // would have crossed it (the cut is greedy-maximal)
    val bySrc = rows.groupBy(_._2)
    assert(bySrc.keySet == Set("src0", "src1"), s"src2 (budget 0) must be empty: ${bySrc.keySet}")
    bySrc.foreach { case (src, rs) =>
      val total = rs.map(_._3).sum
      assert(total <= 600L && total == rs.map(_._4).max)
      val admitted = rs.map(_._1).toSet
      val next = docs.where(col("source") === src)
        .select(col("doc_id"),
          graft.functions.Portable.hash60(7, col("doc_id").cast("string")).as("h"),
          size(graft.functions.Portable.words(col("text"))).cast("long").as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(t => (t._2, t._1))
        .find(t => !admitted(t._1))
      next.foreach { case (_, _, n) =>
        assert(total + n > 600L, s"$src: next doc ($n toks) would still fit under 600")
      }
    }
    // determinism
    val again = Sampling.sampleToTokenBudget(docs, "doc_id", "text", "source", budgets)
      .collect().map(_.getLong(0)).toSet
    assert(again == rows.map(_._1).toSet)
  }

  test("weighted sampling: P(keep) tracks weight, deterministic, certainty at w>=1") {
    import graft.operators.Sampling
    val docs = spark.range(4000).select(
      col("id").as("doc_id"),
      (when(col("id") % 4 === 0, 0.0).when(col("id") % 4 === 1, 0.25)
        .when(col("id") % 4 === 2, 0.75).otherwise(2.0)).as("w"))
    val kept = Sampling.sampleWeighted(docs, "doc_id", "w", seed = 3)
    val byW = kept.groupBy("w").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(!byW.contains(0.0), s"w=0 rows must never be kept: $byW")
    assert(byW(2.0) == 1000L, s"w>=1 rows must all be kept: $byW")
    // 1000 draws per weight class: binomial(1000, w) stays within 5 sigma
    assert(math.abs(byW(0.25) - 250) < 70, byW.toString)
    assert(math.abs(byW(0.75) - 750) < 70, byW.toString)
    // per-id fate is stable across runs; a fresh seed is a fresh draw
    val again = Sampling.sampleWeighted(docs, "doc_id", "w", seed = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == kept.select("doc_id").collect().map(_.getLong(0)).toSet)
    val other = Sampling.sampleWeighted(docs, "doc_id", "w", seed = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(other != again)
    // one filter, no shuffle, no join
    val p = plan(kept)
    assert(!p.contains("Exchange") && !p.contains("Join"), p)
  }

  test("temperature sampling: alpha=1 keeps all, alpha<1 flattens toward uniform, deterministic") {
    import graft.operators.Sampling
    // three sources 4000 / 1000 / 250 — a 16:4:1 imbalance
    val docs = spark.range(5250).select(col("id").as("doc_id"),
      when(col("id") < 4000, "big").when(col("id") < 5000, "mid")
        .otherwise("small").as("source"))
    // alpha = 1: natural distribution — every row kept, thresholds saturate
    assert(Sampling.sampleTemperature(docs, "doc_id", "source", alpha = 1.0).count() == 5250L)
    assert(Sampling.temperatureThresholds(docs, "source", 1.0).forall(_._2 == (1L << 60)))
    // alpha = 0: uniform target — every source downsamples to ~|smallest|
    val flat = Sampling.sampleTemperature(docs, "doc_id", "source", alpha = 0.0, seed = 9)
    val byS = flat.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byS("small") == 250L, s"smallest source must be kept whole: $byS")
    assert(math.abs(byS("big") - 250) < 80, byS.toString)   // binomial(4000, 1/16)
    assert(math.abs(byS("mid") - 250) < 70, byS.toString)   // binomial(1000, 1/4)
    // alpha between: keep rates are monotone in source size (bigger => lower)
    val thr = Sampling.temperatureThresholds(docs, "source", 0.5).toMap
    assert(thr("small") == (1L << 60) && thr("mid") < thr("small") && thr("big") < thr("mid"))
    // per-id fates: deterministic across runs, fresh seed = fresh draw
    val a = flat.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.sampleTemperature(docs, "doc_id", "source", alpha = 0.0, seed = 9)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    assert(a != Sampling.sampleTemperature(docs, "doc_id", "source", alpha = 0.0, seed = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet)
    // plan: broadcast join + filter; the corpus itself never shuffles
    val p = plan(Sampling.sampleTemperature(docs, "doc_id", "source", alpha = 0.5))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("ShuffleExchange"), p)
  }

  test("time-series profiles: dense bucket vectors, rhythm matches over volume") {
    import spark.implicits._
    import graft.operators.TimeSeries
    // bucketMs=10, buckets=4: ts 0-9 -> b0, 10-19 -> b1, ... 40 folds to b0
    val ev = Seq(
      (1L, 0L), (1L, 5L), (1L, 12L),                    // u1: [2,1,0,0]
      (2L, 1L), (2L, 2L), (2L, 3L), (2L, 40L),          // u2: [4,0,0,0]... use same rhythm
      (3L, 35L), (3L, 36L)                               // u3: [0,0,0,2]
    ).toDF("u", "ts")
    val prof = TimeSeries.activityProfiles(ev, "u", "ts", buckets = 4, bucketMs = 10L)
    val m = prof.as[(Long, Seq[Double])].collect().toMap
    assert(m(1L) == Seq(2.0, 1.0, 0.0, 0.0), m.toString)
    assert(m(2L) == Seq(4.0, 0.0, 0.0, 0.0), m.toString)
    assert(m(3L) == Seq(0.0, 0.0, 0.0, 2.0), m.toString)
    // pre-epoch (negative) timestamps fold onto the cycle via pmod instead
    // of vanishing into a negative bucket: every event is counted
    val neg = Seq((9L, -1L), (9L, -15L), (9L, 5L)).toDF("u", "ts")
    val pn = TimeSeries.activityProfiles(neg, "u", "ts", buckets = 4, bucketMs = 10L)
      .as[(Long, Seq[Double])].collect().toMap
    assert(pn(9L).sum == 3.0, s"negative-ts events must not be dropped: $pn")
    // cosine is scale-invariant: a 10x-volume copy of u1's rhythm matches
    // u1 perfectly (score 1.0) and beats every different rhythm
    val ev2 = ev.union(Seq((4L, 0L), (4L, 1L), (4L, 2L), (4L, 3L), (4L, 4L),
      (4L, 5L), (4L, 6L), (4L, 7L), (4L, 8L), (4L, 9L),
      (4L, 10L), (4L, 11L), (4L, 12L), (4L, 13L), (4L, 14L),
      (4L, 15L), (4L, 16L), (4L, 17L), (4L, 18L), (4L, 19L), (4L, 40L),
      (4L, 41L), (4L, 42L), (4L, 43L), (4L, 44L), (4L, 45L), (4L, 46L),
      (4L, 47L), (4L, 48L), (4L, 49L)).toDF("u", "ts"))
    // u4 = [20,10,0,0]: exactly 10x u1's profile
    val prof2 = TimeSeries.activityProfiles(ev2, "u", "ts", buckets = 4, bucketMs = 10L)
    val top = TimeSeries.topKSimilar(prof2,
        prof2.where(col("u") === 1L), "u", k = 3)
      .orderBy("rank").as[(Long, Long, Long, Double)].collect()
    assert(top.head._2 == 4L && math.abs(top.head._4 - 1.0) < 1e-12,
      s"10x-volume same-rhythm user must rank first at cosine 1.0: ${top.toSeq}")
  }

  test("binary chunk dedup: exact copies share all chunks, tail edit drops one, df cap, exact groups") {
    import spark.implicits._
    import graft.operators.Multimodal
    // 64 bytes = 8 chunks of 8, all DISTINCT (a repeating pattern would
    // collapse to fewer distinct chunk hashes and undercount sharing)
    val p = "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ+-"
    val q = p.dropRight(8) + "########"       // last chunk differs
    val r = "z" * 64                           // 8 chunks, all the same text!
    val df = Seq((0L, p), (1L, p), (2L, r), (3L, q))
      .toDF("media_id", "payload")
      .select(col("media_id"), col("payload").cast("binary").as("payload"))
    val pairs = Multimodal.binaryNearDups(df, "media_id", "payload",
        chunkBytes = 8, minShared = 2, maxDf = 64)
      .as[(Long, Long, Long)].collect().toSet
    // chunk hashes are DISTINCT per media, so p's 8 distinct chunks all
    // match between exact copies; q shares the 7 untouched ones; r's 8
    // identical chunks collapse to ONE hash and meet nobody
    assert(pairs == Set((0L, 1L, 8L), (0L, 3L, 7L), (1L, 3L, 7L)), pairs.toString)
    // df cap: a chunk present in > maxDf medias is dropped before the join
    val many = (0L until 20L).map(i => (i, p)).toDF("media_id", "payload")
    assert(Multimodal.binaryNearDups(many, "media_id", "payload",
      chunkBytes = 8, minShared = 1, maxDf = 4).count() == 0L)
    // exact byte-level duplicate groups
    val ex = Multimodal.binaryExactDups(df, "media_id", "payload")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(ex == Set((0L, 2L)), ex.toString)
  }

  test("CDC chunk dedup: byte-inserted copies realign (fixed grid misses them); edit-locality") {
    import spark.implicits._
    import graft.operators.Multimodal
    // deterministic pseudo-random payloads (no repeated substrings to
    // accidentally share): 400 bytes each, plus a twin with ONE byte
    // inserted at the front — the edit that shifts every fixed-grid chunk
    def blob(seed: Int): String =
      (0 until 50).map(i => f"${graft.functions.Portable.md5Long(s"$seed:$i")}%08x").mkString
    val df = Seq(
        (0L, blob(1)), (1L, "Q" + blob(1)),   // inserted-byte twin of 0
        (2L, blob(2)), (3L, blob(3)))         // unrelated
      .toDF("media_id", "payload")
      .select(col("media_id"), col("payload").cast("binary").as("payload"))
    // fixed grid: the shifted twin shares NO aligned 32-byte chunk
    val grid = Multimodal.binaryNearDups(df, "media_id", "payload",
      chunkBytes = 32, minShared = 2).as[(Long, Long, Long)].collect().toSet
    assert(!grid.exists(p => p._1 == 0L && p._2 == 1L),
      s"fixed grid must miss the byte-inserted twin: $grid")
    // CDC: cuts are content-positioned, so the twin re-aligns after ~window
    // bytes and shares nearly all chunks; unrelated payloads share at most
    // a couple of TINY chunks (no min-chunk bound), which minShared=4 —
    // the registry query's setting — screens out
    val cdc = Multimodal.binaryNearDupsCdc(df, "media_id", "payload",
      window = 8, divisor = 16, minShared = 4).as[(Long, Long, Long)].collect().toSet
    assert(cdc.exists(p => p._1 == 0L && p._2 == 1L && p._3 >= 10L),
      s"CDC must catch the byte-inserted twin with most chunks shared: $cdc")
    assert(cdc.forall(p => Set((0L, 1L)).contains((p._1, p._2))),
      s"unrelated payloads must not pair: $cdc")
    // edit-locality: an edit perturbs only chunks near it — the chunk-hash
    // sets before/after a mid-payload insertion still share >= 70%
    val mid = blob(4)
    val edited = mid.substring(0, 200) + "!" + mid.substring(200)
    val pair = Seq((10L, mid), (11L, edited)).toDF("media_id", "payload")
      .select(col("media_id"), col("payload").cast("binary").as("payload"))
    val hs = Multimodal.cdcChunkHashes(pair, "media_id", "payload", window = 8,
        divisor = 16, maxDf = 64)
      .select("media_id", "ch") // the df-cap anti-join leads with the key
      .as[(Long, Long)].collect().groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val shared = (hs(10L) intersect hs(11L)).size.toDouble
    assert(shared / hs(10L).size >= 0.7 && shared / hs(11L).size >= 0.7,
      s"CDC chunk sets must mostly survive a one-byte edit: ${hs(10L).size}/${hs(11L).size}/shared=$shared")
  }

  test("persisted media library index: probe prunes buckets and never shuffles the library") {
    import spark.implicits._
    import graft.operators.Multimodal
    import org.apache.spark.sql.execution.FileSourceScanExec
    def blob(seed: Int): String =
      (0 until 50).map(i => f"${graft.functions.Portable.md5Long(s"m$seed:$i")}%08x").mkString
    val lib = (0 until 12).map(i => (i.toLong, blob(i))).toDF("media_id", "payload")
      .select(col("media_id"), col("payload").cast("binary").as("payload"))
    val root = java.nio.file.Files.createTempDirectory("media-idx-").toString
    Multimodal.writeMediaLibraryIndex(lib, "media_id", "payload", root,
      divisor = 16)
    // incoming: ONE exact re-upload of library #3 under a new id — its
    // chunk set (and hence its probed bucket set) is a small fraction of
    // the buckets on disk
    val inc = Seq((100L, blob(3))).toDF("media_id", "payload")
      .select(col("media_id"), col("payload").cast("binary").as("payload"))
    val got = Multimodal.mediaDedupProbeAt(spark, root, inc, "media_id", "payload",
        minShared = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.map(p => (p._1, p._2)) == Set((100L, 3L)), got.toString)
    // bit-equal to the in-memory probe over the same (un-persisted) index
    val memIdx = Multimodal.cdcChunkHashes(
      lib.select(col("media_id").as("existing_id"), col("payload")),
      "existing_id", "payload")
    val mem = Multimodal.mediaDedupProbe(memIdx, inc, "media_id", "payload",
        divisor = 16, minShared = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == mem, s"persisted probe must equal in-memory probe: $got vs $mem")
    // plan proof (AQE off so the physical scan is reachable): the library
    // scan is the STREAMED side of the one BroadcastHashJoin with no
    // Exchange anywhere in its subtree, and its selected partitions are a
    // strict subset of the bucket=N/ directories on disk
    val allBuckets = new java.io.File(s"$root/chunks").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket=")).map(_.getName).toSet
    assert(allBuckets.size > 30, s"fixture needs bucket spread, got $allBuckets")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val again = Multimodal.mediaDedupProbeAt(spark, root, inc, "media_id", "payload",
        minShared = 4)
      val plan = again.queryExecution.executedPlan
      val joins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      }
      assert(joins.size == 1, plan.toString)
      val streamed = joins.head.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => joins.head.right
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => joins.head.left
      }
      val libScans = streamed.collect {
        case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("/chunks")) => s
      }
      assert(libScans.size == 1,
        s"library must be the streamed (never broadcast) side: $plan")
      assert(streamed.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty, s"library side must carry no Exchange: $streamed")
      val readDirs = libScans.flatMap(_.selectedPartitions.toPartitionArray.toSeq)
        .map(pf => pf.filePath.toString.split("/chunks/")(1).split("/")(0)).toSet
      assert(readDirs.nonEmpty && readDirs.size < allBuckets.size,
        s"probe must plan a strict subset of buckets: ${readDirs.size} of ${allBuckets.size}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("lmBuckets: CCNet terciles — full coverage, ordered buckets, sane shares") {
    import graft.operators.TextOps
    Fixtures.tune(spark)
    val docs = Fixtures.documents(spark, "/root/testdata/sf0.001")
    val b = TextOps.lmBuckets(docs, "doc_id", "text", "source")
    val rows = b.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    // every doc appears exactly once, in exactly one bucket
    assert(rows.length == docs.count(), s"${rows.length} vs ${docs.count()}")
    assert(rows.map(_._1).distinct.length == rows.length)
    assert(rows.forall(r => Set("head", "middle", "tail").contains(r._4)))
    // per source: buckets are ORDERED — every head score <= every middle
    // score <= every tail score (threshold construction makes this strict
    // at the boundaries)
    rows.groupBy(_._2).foreach { case (src, rs) =>
      def scores(bk: String) = rs.filter(_._4 == bk).map(_._3)
      for ((lo, hi) <- Seq(("head", "middle"), ("middle", "tail")))
        if (scores(lo).nonEmpty && scores(hi).nonEmpty)
          assert(scores(lo).max <= scores(hi).min,
            s"$src: $lo max ${scores(lo).max} > $hi min ${scores(hi).min}")
      // tercile shares are approximate under ties, but a populated source
      // must keep the head within a sane band
      if (rs.length >= 30) {
        val share = scores("head").length.toDouble / rs.length
        assert(share >= 0.2 && share <= 0.55, s"$src head share $share")
      }
    }
  }

  test("lmScoreWith(lmStats) == lmScore's nonzero rows; artifact round-trips parquet") {
    import graft.operators.TextOps
    Fixtures.tune(spark)
    val docs = Fixtures.documents(spark, "/root/testdata/sf0.001")
    val viaCorpus = TextOps.lmScore(docs, "doc_id", "text")
      .where(col("n_bigrams") > 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val stats = TextOps.lmStats(docs, "doc_id", "text")
    val viaArtifact = TextOps.lmScoreWith(docs, "doc_id", "text", stats)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaArtifact == viaCorpus,
      s"artifact scoring must equal in-corpus scoring: ${viaArtifact.size} vs ${viaCorpus.size}")
    // persisted-artifact deployment shape: parquet round trip changes nothing
    val dir = java.nio.file.Files.createTempDirectory("lmstats-").toString
    stats.write.mode("overwrite").parquet(dir)
    val viaDisk = TextOps.lmScoreWith(docs, "doc_id", "text", spark.read.parquet(dir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaDisk == viaCorpus)
    // OOV rule: grams absent from the artifact drop (score docs against a
    // model built on a DIFFERENT corpus slice)
    val halfStats = TextOps.lmStats(docs.where(col("doc_id") % 2 === 0), "doc_id", "text")
    val oov = TextOps.lmScoreWith(docs, "doc_id", "text", halfStats)
      .agg(sum("n_bigrams")).collect().head.getLong(0)
    val full = viaCorpus.toSeq.map(_._2).sum
    assert(oov < full, "a partial model must score fewer grams, never invent them")
  }

  test("lmBucketsWith(artifacts) == lmBuckets on the scored rows") {
    import graft.operators.TextOps
    Fixtures.tune(spark)
    val docs = Fixtures.documents(spark, "/root/testdata/sf0.001")
    val viaCorpus = TextOps.lmBuckets(docs, "doc_id", "text", "source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
    val stats = TextOps.lmStats(docs, "doc_id", "text")
    val thr = TextOps.lmBucketThresholds(docs, "doc_id", "text", "source")
    val viaArtifacts = TextOps.lmBucketsWith(docs, "doc_id", "text",
        docs.select(col("doc_id"), col("source")), stats, thr)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
    // artifact path emits only scored docs; in-corpus path additionally
    // carries bigram-less docs as tail rows
    val scoredOnly = viaCorpus.filter(_._3 != Long.MaxValue)
    assert(viaArtifacts == scoredOnly,
      s"artifact bucketing must equal in-corpus bucketing: ${viaArtifacts.size} vs ${scoredOnly.size}")
  }

  test("mediaDedupProbeAt: empty incoming probes nothing and returns empty") {
    import spark.implicits._
    import graft.operators.Multimodal
    val lib = Seq((1L, "abcdefghabcdefgh")).toDF("media_id", "payload")
      .select(col("media_id"), col("payload").cast("binary").as("payload"))
    val root = java.nio.file.Files.createTempDirectory("media-idx-empty-").toString
    Multimodal.writeMediaLibraryIndex(lib, "media_id", "payload", root,
      divisor = 16)
    val empty = Seq.empty[(Long, Array[Byte])].toDF("media_id", "payload")
    assert(Multimodal.mediaDedupProbeAt(spark, root, empty,
      "media_id", "payload").count() == 0L)
  }

  test("mediaDedupProbeAt: oversized incoming fails fast naming maxProbeChunks") {
    // the probe BROADCASTS the incoming chunk set (micro-batch contract);
    // past maxProbeChunks it must throw with the knob named, not OOM the
    // driver mid-broadcast — enforced, not advisory (the tokenBudgetStream
    // treatment). Tiny bound so the fixture stays tiny.
    import spark.implicits._
    import graft.operators.Multimodal
    val lib = Seq((1L, "abcdefghabcdefghabcdefghabcdefgh")).toDF("media_id", "payload")
      .select(col("media_id"), col("payload").cast("binary").as("payload"))
    val root = java.nio.file.Files.createTempDirectory("media-idx-big-").toString
    Multimodal.writeMediaLibraryIndex(lib, "media_id", "payload", root,
      divisor = 16)
    val incoming = Seq((100L, "abcdefghabcdefghabcdefghabcdefgh"),
      (101L, "zyxwvutszyxwvutszyxwvutszyxwvuts")).toDF("media_id", "payload")
      .select(col("media_id"), col("payload").cast("binary").as("payload"))
    val e = intercept[IllegalArgumentException] {
      Multimodal.mediaDedupProbeAt(spark, root, incoming, "media_id", "payload",
        maxProbeChunks = 1L)
    }
    assert(e.getMessage.contains("maxProbeChunks"), e.getMessage)
    assert(e.getMessage.contains("binaryNearDupsCdc"), e.getMessage)
  }

  test("CdcChunkHashesExpr == the composed Column pipeline, incl. edge cases") {
    import spark.implicits._
    import graft.operators.Multimodal
    val rnd = new scala.util.Random(31)
    // random payloads incl. empties, shorter-than-window, all-same-byte,
    // high bytes (sign-extension traps), and long runs
    val payloads: Seq[Array[Byte]] =
      Seq(Array.emptyByteArray, Array[Byte](7), Array.fill[Byte](3)(65),
        Array.fill[Byte](500)(0), Array.fill[Byte](64)(-1)) ++
        (0 until 40).map(_ => {
          val b = new Array[Byte](rnd.nextInt(600))
          rnd.nextBytes(b)
          b
        })
    val df = payloads.zipWithIndex.map { case (b, i) => (i.toLong, b) }
      .toDF("media_id", "payload")
    for ((w, d) <- Seq((8, 16), (4, 8), (1, 2))) {
      val fast = Multimodal.cdcChunkRows(df, "media_id", "payload", w, d)
        .as[(Long, Long)].collect().groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
      val slow = Multimodal.cdcChunkRowsComposed(df, "media_id", "payload", w, d)
        .as[(Long, Long)].collect().groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
      assert(fast == slow, s"window=$w divisor=$d: expression != composed pipeline")
    }
    // the fixed-grid expression against ITS composed twin
    for (cb <- Seq(1, 8, 32, 64)) {
      val fast = Multimodal.binaryChunkRows(df, "media_id", "payload", cb)
        .as[(Long, Long)].collect().groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
      val slow = Multimodal.binaryChunkRowsComposed(df, "media_id", "payload", cb)
        .as[(Long, Long)].collect().groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
      assert(fast == slow, s"chunkBytes=$cb: grid expression != composed pipeline")
    }
    // the expressions stay inside whole-stage codegen (one static call/row)
    val plan = Multimodal.cdcChunkRows(df, "media_id", "payload")
      .queryExecution.executedPlan.toString
    assert(plan.contains("cdc_chunk_hashes"), plan)
    val plan2 = Multimodal.binaryChunkRows(df, "media_id", "payload")
      .queryExecution.executedPlan.toString
    assert(plan2.contains("grid_chunk_hashes"), plan2)
  }

  test("tokenBudgetStream: single-batch == batch operator; state folds across awkward chunkings") {
    import graft.operators.Sampling
    Fixtures.tune(spark)
    val docs = Fixtures.documents(spark, "/root/testdata/sf0.001")
    val budgets = (0 until 10).map(i => s"src$i" -> 600L)
    // single batch: batch-mode flatMapGroupsWithState sees each source once
    // with empty state — must admit EXACTLY the batch operator's set
    val viaBatchOp = Sampling.sampleToTokenBudget(docs, "doc_id", "text", "source",
        budgets, seed = 7)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val viaStreamOp = Sampling.tokenBudgetStream(docs, "doc_id", "text", "source",
        budgets, seed = 7)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(viaStreamOp == viaBatchOp, s"${viaStreamOp.size} vs ${viaBatchOp.size}")
    // cross-batch state fold: with an UNBOUNDED budget and awkward chunk
    // sizes, every doc is admitted exactly once and each source's final
    // cum equals its total token count — the running total survived the
    // micro-batch boundaries (MemoryStream-fed real streaming execution)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val rows = docs.select("doc_id", "source", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val inRecipe = docs.where(col("source").isin((0 until 10).map(i => s"src$i"): _*))
    for (chunk <- Seq(7, 64)) {
      val ms = MemoryStream[(Long, String, String)]
      val name = s"tbs_chunk_$chunk"
      val q = Sampling.tokenBudgetStream(
          ms.toDF().toDF("doc_id", "source", "text"),
          "doc_id", "text", "source",
          (0 until 10).map(i => s"src$i" -> Long.MaxValue), seed = 7)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      rows.grouped(chunk).foreach { batch => ms.addData(batch); q.processAllAvailable() }
      q.stop()
      val got = spark.table(name)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      assert(got.length == inRecipe.count(), s"chunk=$chunk: every in-recipe doc admitted once")
      val finalCum = spark.table(name).groupBy("source").agg(max("cum_tokens").as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = inRecipe.select(col("source"),
          size(graft.functions.Portable.words(col("text"))).cast("long").as("n"))
        .groupBy("source").agg(sum("n").as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(finalCum == want,
        s"chunk=$chunk: state must accumulate across batches: $finalCum vs $want")
    }
    // backlog guard: a source slice larger than maxBatchRows fails FAST with
    // the rate-limited-trigger contract in the message, instead of buffering
    // an unbounded backlog on one task (the unthrottled-AvailableNow trap)
    val oversized = docs.where(col("source") === "src0").limit(8)
    val guarded = Sampling.tokenBudgetStream(oversized, "doc_id", "text", "source",
      Seq("src0" -> Long.MaxValue), seed = 7, maxBatchRows = 5)
    val e = intercept[Exception](guarded.collect())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(m => m.contains("maxOffsetsPerTrigger")),
      s"guard must name the admission-control knob: ${messages(e)}")
  }

  test("split assignment: complete partition, proportional, stable per id") {
    import graft.operators.Sampling
    val docs = spark.range(4000).select(col("id").as("doc_id"))
    val splits = Seq("train" -> 800, "val" -> 100, "test" -> 100)
    val got = Sampling.splitByHash(docs, "doc_id", splits, seed = 5)
    // every row gets exactly one label; proportions binomial within 5 sigma
    val byLabel = got.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLabel.keySet == Set("train", "val", "test"), byLabel.toString)
    assert(byLabel.values.sum == 4000L, byLabel.toString)
    assert(math.abs(byLabel("train") - 3200) < 127, byLabel.toString)
    assert(math.abs(byLabel("val") - 400) < 95, byLabel.toString)
    // per-id fate is stable; a fresh seed reassigns
    def fates(seed: Int) = Sampling.splitByHash(docs, "doc_id", splits, seed)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fates(5) == fates(5))
    assert(fates(5) != fates(6))
    // one projection, no shuffle, no join; bad weights rejected loudly
    val p = plan(got)
    assert(!p.contains("Exchange") && !p.contains("Join"), p)
    intercept[IllegalArgumentException] {
      Sampling.splitByHash(docs, "doc_id", Seq("a" -> 900, "b" -> 90))
    }
    // a NULL id gets a NULL split — never a silent landing in some bucket
    import spark.implicits._
    val withNull = Sampling.splitByHash(
        Seq(Option(1L), Option.empty[Long]).toDF("doc_id"), "doc_id", splits)
      .collect().map(r => (r.isNullAt(0), Option(r.getString(1)))).toMap
    assert(withNull(true).isEmpty, withNull.toString)
    assert(withNull(false).nonEmpty, withNull.toString)
  }

  test("vocab build + encode: rank ids, minCount, positions, OOV dropped") {
    import spark.implicits._
    import graft.operators.TextOps
    val docs = Seq(
      (1L, "b a  a c"),   // double space: empty token holds position 2
      (2L, "a b x"),
      (3L, "a")).toDF("doc_id", "text")
    val vocab = TextOps.buildVocab(docs, "doc_id", "text", maxSize = 2, minCount = 2L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // a: 4 occ / 3 docs; b: 2 occ / 2 docs; c and x fall below minCount or rank
    assert(vocab.toSeq == Seq(("a", 4L, 3L, 0L), ("b", 2L, 2L, 1L)), vocab.toSeq.toString)
    val enc = TextOps.applyVocab(docs, TextOps.buildVocab(docs, "doc_id", "text", 2, 2L),
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 1 raw split: [b, a, "", a, c] -> b@0, a@1, a@3 (c is OOV)
    assert(enc == Set((1L, 0L, 1L), (1L, 1L, 0L), (1L, 3L, 0L),
      (2L, 0L, 0L), (2L, 1L, 1L), (3L, 0L, 0L)), enc.toString)
  }

  test("vocab merge law: ranking merged doc-disjoint shard stats == building on the union") {
    import graft.operators.TextOps
    val docs = Fixtures.documents(spark, "/root/testdata/sf0.001")
    val a = docs.where(col("doc_id") % 2 === 0)
    val b = docs.where(col("doc_id") % 2 === 1)
    val merged = TextOps.rankVocab(TextOps.vocabStatsMerge(Seq(
        TextOps.vocabStats(a, "doc_id", "text"),
        TextOps.vocabStats(b, "doc_id", "text"))),
      maxSize = 50, minCount = 2L)
    val whole = TextOps.buildVocab(docs, "doc_id", "text", maxSize = 50, minCount = 2L)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(rows(merged) == rows(whole))
  }

  test("mixture sampling: limiting source kept whole, mass tracks targets") {
    import graft.operators.Sampling
    // three sources with mass 8000/4000/1000 per doc-count 800/400/100 (10
    // chars each); targets 50/30/20 → src "c" is limiting (1000/0.2 = 5000
    // smallest), achievable total 5000 → expected kept mass 2500/1500/1000
    val docs = spark.range(1300).select(
      col("id").as("doc_id"),
      when(col("id") < 800, "a").when(col("id") < 1200, "b").otherwise("c")
        .as("source"),
      lit(10L).as("n_chars"))
    val weights = Seq("a" -> 0.5, "b" -> 0.3, "c" -> 0.2)
    val kept = Sampling.mixBySource(docs, "doc_id", "source", "n_chars", weights)
    val byS = kept.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byS("c") == 100L, s"limiting source must keep everything: $byS")
    // binomial(800, 0.3125) and (400, 0.375): 5-sigma slack
    assert(math.abs(byS("a") - 250) < 66, byS.toString)
    assert(math.abs(byS("b") - 150) < 49, byS.toString)
    // deterministic under re-partitioning; absent sources drop entirely
    val again = Sampling.mixBySource(docs.repartition(7), "doc_id", "source",
      "n_chars", weights).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == kept.select("doc_id").collect().map(_.getLong(0)).toSet)
    val partial = Sampling.mixBySource(docs, "doc_id", "source", "n_chars",
      Seq("a" -> 1.0, "c" -> 1.0))
    assert(!partial.select("source").distinct().collect().map(_.getString(0))
      .contains("b"))
  }

  test("stratified sampling: per-stratum fates, single codegen'd filter") {
    import graft.operators.Sampling
    val docs = spark.range(1000).select(
      col("id").as("doc_id"),
      when(col("id") % 3 === 0, "en").when(col("id") % 3 === 1, "de")
        .otherwise("sw").as("lang"))
    val kept = Sampling.sampleStratified(docs, "doc_id", "lang",
      Seq("en" -> ((0, 10)), "de" -> ((1, 2))))
    val byLang = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!byLang.contains("en"), s"en must be dropped entirely: $byLang")
    assert(byLang("sw") == 333L, s"default stratum must be kept whole: $byLang")
    val de = byLang("de").toDouble / 333
    assert(de > 0.35 && de < 0.65, s"de must be ~halved: $byLang")
    // per-id fate is independent of strata config: same id, same hash draw
    val again = Sampling.sampleStratified(docs, "doc_id", "lang",
      Seq("de" -> ((1, 2))))
    assert(again.where(col("lang") === "de").select("doc_id").collect().toSet ==
      kept.where(col("lang") === "de").select("doc_id").collect().toSet)
    // one filter, no shuffle, no join
    val p = plan(kept)
    assert(!p.contains("Exchange") && !p.contains("Join"), p)
  }

  test("deterministic shuffle: reproducible per seed, windows per shard") {
    import graft.operators.Sampling
    val docs = spark.range(500).select(col("id").as("doc_id"))
    def run(seed: Int) = Sampling.shuffleDeterministic(docs, "doc_id", seed, numShards = 8)
    val a = run(7).select("doc_id", "shard", "shard_pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val b = run(7).select("doc_id", "shard", "shard_pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(a.sameElements(b), "same seed must reproduce the permutation")
    val c = run(8).select("doc_id", "shard", "shard_pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(!a.sameElements(c), "a fresh seed must be a fresh permutation")
    // every shard's positions are exactly 1..count (a true per-shard ranking)
    run(7).groupBy("shard").agg(count(lit(1)).as("n"), max("shard_pos").as("mx"),
        min("shard_pos").as("mn"), countDistinct("shard_pos").as("d"))
      .collect().foreach { r =>
        val (n, mx, mn, d) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
        assert(mx == n && mn == 1L && d == n, r.toString)
      }
    // window partitions by shard, never a single global sort
    val p = plan(run(7))
    assert(p.contains("hashpartitioning(shard"), p)
  }

  test("tfidf: rare terms outrank common ones; broadcast scalar, per-doc window") {
    import spark.implicits._
    import graft.operators.TextOps
    // "common" appears in every doc (idf ~ 0); each doc also has a unique term
    val docs = Seq(
      (1L, "common common unique1"),
      (2L, "common unique2 unique2"),
      (3L, "common unique3")).toDF("doc_id", "text")
    val top = TextOps.tfidfTopTerms(docs, "doc_id", "text", k = 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(top == Map(1L -> "unique1", 2L -> "unique2", 3L -> "unique3"), top)
    val all = TextOps.tfidfTopTerms(docs, "doc_id", "text", k = 5)
    assert(all.where(col("term_rank") > 5).count() == 0)
    val p = plan(all)
    // the only nested-loop is the broadcast single-row N scalar; the corpus
    // joins are hash equi-joins on term
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("hashpartitioning(doc_id"), p)
  }

  test("explodedWordShingles equals the HOF wordShingles multiset") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val words = Seq("a", "bb", "ccc", "dd", "e")
    val docs = ((0 until 200).map { i =>
      (i.toLong, (0 until rnd.nextInt(8)).map(_ => words(rnd.nextInt(words.size))).mkString(" "))
    } ++ Seq((900L, ""), (901L, "solo"), (902L, "two words"),
      (903L, "a  double  space"))).toDF("doc_id", "text")
    def multiset(df: org.apache.spark.sql.DataFrame): Map[(Long, String), Long] =
      df.groupBy("doc", "g").count().collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val fast = multiset(graft.operators.OpUtil.explodedWordShingles(docs, "doc_id", "text", 3))
    val hof = multiset(docs.select(col("doc_id").as("doc"),
      explode(graft.functions.Portable.wordShingles(col("text"), 3)).as("g")))
    assert(fast == hof, s"sizes ${fast.size} vs ${hof.size}")
  }

  test("ShingleHashesExpr equals the composed shingle-hash Column form, codegen and interpreted") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.functions.Portable
    // empty words make double, leading and trailing spaces; short lists
    // make texts of fewer than k words; some words are not ASCII
    val word = Gen.frequency(
      6 -> Gen.oneOf("a", "bb", "the", "of", "x1"),
      3 -> Gen.oneOf("é", "日本", "naïve", "\uD83D\uDE42", "Ωmega"),
      2 -> Gen.const(""))
    val text: Gen[Option[Array[Byte]]] = Gen.frequency(
      1 -> Gen.const(None),
      1 -> Gen.const(Some(Array.emptyByteArray)),
      12 -> Gen.choose(0, 10).flatMap(n => Gen.listOfN(n, word))
        .map(ws => Some(ws.mkString(" ").getBytes("UTF-8"))))
    // malformed UTF-8 too: decoded texts carry U+FFFD where the bytes break
    val malformed = Seq(Array[Byte](0x61, 0x20, 0xC3.toByte, 0x20, 0x62, 0x20, 0xFF.toByte),
      Array[Byte](0xE6.toByte, 0x97.toByte, 0x20, 0x20, 0x61, 0x20, 0x62))
    val params = Gen.Parameters.default.withSize(10)
    val schema = StructType(Seq(StructField("id", LongType), StructField("b", BinaryType)))
    def compare(k: Int): Unit = for (seed <- 1L to 3L) {
      val texts = Gen.listOfN(120, text).pureApply(params, Seed(seed)) ++ malformed.map(Some(_))
      val rows = texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t.orNull) }
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
        .select(col("id"), col("b").cast("string").as("text"))
      val composed = array_sort(array_distinct(transform(
        Portable.wordShingles(col("text"), k), g => Portable.uhashBase(g))))
      val bad = df.select(col("id"), col("text"),
          Portable.shingleHashes(col("text"), k).as("fused"), composed.as("composed"))
        .where(not(col("fused") <=> col("composed"))).collect()
      assert(bad.isEmpty, s"k=$k seed=$seed: ${bad.take(3).mkString("; ")}")
    }
    for (k <- Seq(1, 3)) compare(k)
    val interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val before = interpreted.map { case (key, _) => key -> spark.conf.getOption(key) }
    interpreted.foreach { case (key, v) => spark.conf.set(key, v) }
    try for (k <- Seq(1, 3)) compare(k)
    finally before.foreach {
      case (key, Some(v)) => spark.conf.set(key, v)
      case (key, None) => spark.conf.unset(key)
    }
  }

  test("shingle sets merge rows sharing an id and keep the exact df cap") {
    import spark.implicits._
    import graft.functions.Portable
    // ids 1 and 3 each span two rows; "a b c" is in every doc (df 4)
    val docs = Seq(
      (1L, "a b c one two three"), (1L, "a b c four five six"),
      (2L, "a b c one two three seven"), (3L, "a b c x y"),
      (3L, "nine ten eleven"), (4L, "a b c"), (5L, "too short")
    ).toDF("doc_id", "text")
    val exploded = graft.operators.OpUtil.explodedWordShingles(docs, "doc_id", "text", 3)
      .select(col("doc"), Portable.uhashBase(col("g")).as("hm")).distinct()
    def rows(df: DataFrame): Set[(Long, Long)] =
      df.select("doc", "hm").as[(Long, Long)].collect().toSet
    for (maxDf <- Seq(0L, 3L)) {
      // the distinct (doc, hash) postings, df-capped by anti-join
      val heavy = exploded.groupBy("hm").count().where(col("count") > maxDf).select("hm")
      val postings = if (maxDf <= 0) exploded else exploded.join(heavy, Seq("hm"), "left_anti")
      assert(rows(Dedup.cappedShingles(docs, "doc_id", "text", 3, maxDf)) == rows(postings),
        s"maxDf=$maxDf")
      // signatures: per-row minimums over the merged set equal the
      // per-document aggregate over the posting rows
      val mins = (0 until 4).map(i => min(Portable.uhash(i, col("hm"))).as(s"m$i"))
      val oldSigs = postings.groupBy("doc").agg(mins.head, mins.tail: _*)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val newSigs = Dedup.minHashSignatures(docs, "doc_id", "text", 3, 4, maxDf)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(newSigs == oldSigs, s"maxDf=$maxDf")
    }
  }

  test("incremental minhash: probe finds cross-slice dups, equals full-join restriction") {
    import spark.implicits._
    val existing = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated text about databases and storage engines")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"), // dup of 1
      (11L, "fresh content that matches nothing in the corpus today")).toDF("doc_id", "text")
    val idx = Dedup.buildMinHashIndex(existing, "doc_id", "text")
    val got = Dedup.probeMinHashIndex(idx, incoming, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L)), got.toString)
    // must equal the one-shot candidate join over the union, restricted to
    // cross-slice pairs (the incremental path loses nothing)
    val fullPairs: Set[(Long, Long)] =
      Dedup.minHashLshCandidates(existing.union(incoming), "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = fullPairs
      .filter { case (i, j) => (i < 10L) != (j < 10L) }
      .map { case (i, j) => if (i < 10L) (i, j) else (j, i) }
    assert(got == full, s"probe $got vs full-join restriction $full")
    val p = plan(Dedup.probeMinHashIndex(idx, incoming, "doc_id", "text"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("bigram LM score: hand-computed nll, zero for sub-bigram docs") {
    import spark.implicits._
    import graft.operators.TextOps
    // corpus model: count(a b)=3, count(b a)=1, count(b c)=1;
    // contexts: a·=3, b·=2 -> P(a b)=1 (ln 0), P(b a)=P(b c)=1/2
    // round(ln(1/2)*1e6) = -693147
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "x")).toDF("doc_id", "text")
    val got = TextOps.lmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      1L -> ((3L, 693147L)),  // bigrams (a b),(b a),(a b): one improbable hop
      2L -> ((2L, 693147L)),  // (a b),(b c)
      3L -> ((0L, 0L))), got.toString)
    val p = plan(TextOps.lmScore(docs, "doc_id", "text"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("quality filter: every rule fires in order, one shuffle-free pass") {
    import spark.implicits._
    import graft.operators.TextOps
    val docs = Seq(
      (1L, "hi there"),                                // 2 tokens -> too_short
      (2L, "a b c d e f g h i j k the more words"),    // 14 -> too_long
      (3L, "ab cd ef"),                                // avg 2 -> short_tokens
      (4L, "the 12345 99999"),                         // digits -> digit_heavy
      (5L, "zebra lion tiger"),                        // no stopwords
      (6L, "the the the the"),                         // lexDiv .25 -> repetitive
      (7L, "the quick brown fox")).toDF("doc_id", "text") // keeps
    val out = TextOps.qualityFilter(docs, "doc_id", "text",
      minTokens = 3, maxTokens = 10, minAvgTokenLen = 3.0, maxAvgTokenLen = 10.0,
      maxDigitRatio = 0.2, minStopwordRatio = 0.1, minLexicalDiversity = 0.5)
    val got = out.collect().map(r => r.getLong(0) ->
      ((Option(r.getString(1)), r.getBoolean(2)))).toMap
    assert(got == Map(
      1L -> ((Some("too_short"), false)),
      2L -> ((Some("too_long"), false)),
      3L -> ((Some("short_tokens"), false)),
      4L -> ((Some("digit_heavy"), false)),
      5L -> ((Some("no_stopwords"), false)),
      6L -> ((Some("repetitive"), false)),
      7L -> ((None, true))), got.toString)
    val p = plan(out)
    assert(!p.contains("Exchange") && !p.contains("Join"), p)
  }

  test("near-dup clustering: min-label propagation converges across hops") {
    import spark.implicits._
    // two components: a 4-node PATH 1-2-3-4 (needs multi-hop propagation)
    // and an isolated pair 10-11; then a 25-node path that maxIter = 20
    // stops short of converging. Both cluster paths — the driver-side one
    // (default guard) and the distributed rounds (guard 0) — must return the
    // same labels, converged or not.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("i", "j")
    val path = (1L until 25L).map(v => (v, v + 1)).toDF("i", "j")
    for ((name, guard) <- Seq("driver" -> Dedup.LocalClusterMaxEdges, "distributed" -> 0L)) {
      val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
      val got = Dedup.nearDupClusters(pairs, "i", "j", 20, guard)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L),
        s"$name: $got")
      // intermediate rounds unpersist explicitly: after convergence only the
      // edges cache and the final labels cache remain (NOT one per iteration —
      // this path ran 4 propagation rounds); the driver path keeps none
      val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet.diff(cachedBefore)
      assert(leaked.size <= (if (guard == 0L) 2 else 0),
        s"$name: label caches leaked across rounds: $leaked")
      val stopped = Dedup.nearDupClusters(path, "i", "j", 20, guard)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(stopped == (1L to 25L).map(v => v -> math.max(1L, v - 20L)).toMap,
        s"$name: 20 synchronous rounds over a 25-node path: $stopped")
    }
  }

  test("relational join picks broadcast for the small dimension side") {
    Fixtures.tune(spark)
    val customer = spark.read.parquet(sf("customer"))
    val orders = spark.read.parquet(sf("orders"))
    val joined = orders.join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)))
    val p = plan(joined)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("salted join equals plain join and fans hot keys over salt buckets") {
    import graft.operators.Skew
    // heavily skewed fact side: 90% of rows share key 0
    val fact = spark.range(10000).select(
      when(col("id") % 10 === 0, col("id") % 50).otherwise(lit(0L)).as("k"),
      col("id").as("payload_id"))
    val dim = spark.range(50).select(col("id").as("k"), concat(lit("d"), col("id")).as("dval"))
    val salted = Skew.saltedJoin(fact, dim, Seq("k"), buckets = 8, saltFrom = Seq("payload_id"))
    val plain = fact.join(dim, "k")
    assert(salted.count() == plain.count())
    val a = salted.groupBy("k").count().collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val b = plain.groupBy("k").count().collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(a.sameElements(b))
    // the dim side is replicated per salt bucket (Generate/explode in plan)
    val p = plan(salted)
    assert(p.contains("Generate") || p.contains("explode"), p)
  }

  test("IVF ANN: cell assignment broadcasts centroids, candidates equi-join on cell") {
    val p = plan(Similarity.ivfTopK(emb, emb.where(col("vec_id") < 5),
      "vec_id", "embedding", k = 3, nlist = 8, nprobe = 2))
    assert(!p.contains("CartesianProduct"), p)
    // candidate join is on the cell key, not all-pairs: a hash join must exist
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("text/dedup operators: single vectorized pass, hash aggregation") {
    // higher-order functions (aggregate/transform lambdas) run as interpreted
    // projections over a codegen'd vectorized scan — one pass, no shuffle
    val p = plan(graft.operators.TextOps.tokenStats(docs, "doc_id", "text"))
    assert(p.contains("*(1)") && !p.contains("Exchange"), p)
    // exact dedup: hash aggregate with a map-side partial combine, so the
    // shuffle carries one row per distinct hash, not per input row
    val p2 = plan(Dedup.exact(docs, "doc_id", "text"))
    assert(p2.contains("HashAggregate") && p2.contains("partial_min"), p2)
  }

  test("registry sweep: no cartesian, no unexpected nested-loop join, no partition-less window") {
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LocalRelation, OneRowRelation, Window => LWindow}
    // Nested-loop joins whose broadcast side is bounded by construction are
    // deliberate and documented on the operator:
    //  - sim_exact / sql_topk: brute-force ANN broadcasts the (tiny) query
    //    set — the baseline the bucketed variants are judged against.
    //  - sim_ivf / sim_ivf_kmeans: the coarse-quantizer pass broadcasts the
    //    nlist-row centroid table (Similarity.rankCells) — bounded by nlist.
    //  - text_tfidf / text_filter / pipeline_export: a single-row corpus-N
    //    scalar (count aggregate) cross-joined onto the term relation.
    //  - dedup_semantic: the same bounded nlist-row centroid broadcast as
    //    the IVF quantizer pass (Dedup.semantic's cell assignment).
    //  - sample_mix: the single-row achievable-total scalar cross-joined
    //    onto the |weights|-row fraction table (both bounded).
    //  - sim_pq: ADC broadcasts the query set with its m×ksub distance
    //    tables (bounded like sim_exact's query broadcast).
    //  - ts_similarity: bruteForceTopK over activity profiles — the same
    //    bounded query-set broadcast as sim_exact.
    //  - sim_ivf_persisted: same bounded centroid broadcast as sim_ivf
    //    (the cells side is additionally partition-pruned on disk).
    val bnljOk = Set("sim_exact", "sql_topk", "sim_ivf", "sim_ivf_kmeans",
      "sim_pq", "sim_pq_append", "es_stream_pq_append", "sim_ivf_pq", "sim_ivf_pq_persisted", "sim_ivf_pq_append", "es_stream_ivf_pq_append", "sim_ivf_persisted", "sim_ivf_append", "es_stream_ivf_append", "sim_ivf_compact",
      "sim_ivf_replay", "sim_ivf_time_travel",
      "dedup_semantic", "dedup_semantic_probe",
      "sample_mix", "text_tfidf", "text_filter", "pipeline_export",
      "ts_similarity",
      // sim_project_topk / sim_pca_topk: the cheap projected-space pass
      // broadcasts the same bounded query set as sim_exact (the whole point
      // is that the non-equi scoring runs on 32-d/8-d vectors, not 64-d)
      "sim_project_topk", "sim_pca_topk")
    val sfDir = "/root/testdata/sf0.001"
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      val opt = df.queryExecution.optimizedPlan
      // A Window with an empty partition spec moves EVERYTHING to one
      // partition — a scale-killer unless its input is already bounded
      // (descends from a Limit or a literal/local relation). Global Sort is
      // deliberately NOT flagged: Spark range-partitions it (distributed),
      // and orderBy+limit becomes TakeOrderedAndProject.
      opt.foreach {
        case w: LWindow if w.partitionSpec.isEmpty =>
          val bounded = w.child.collectFirst {
            case _: GlobalLimit => (); case _: LocalLimit => ()
            case _: LocalRelation => (); case _: OneRowRelation => ()
          }.isDefined
          if (!bounded) failures += s"$name: partition-less Window over unbounded input"
        case _ =>
      }
      val phys = df.queryExecution.executedPlan.toString
      if (phys.contains("CartesianProduct")) failures += s"$name: CartesianProduct"
      if (phys.contains("BroadcastNestedLoopJoin") && !bnljOk(name))
        failures += s"$name: unexpected BroadcastNestedLoopJoin"
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }


  test("media decode family: single-pass full-scan shape — no Exchange, no Join") {
    // the 100 TB claim for container decode is exactly this: one stateless
    // projection over the corpus scan (mapPartitions decode + optional
    // codegen'd filter) — any shuffle or join appearing here would mean the
    // plan stopped being a map-only pass
    val sfDir = "/root/testdata/sf0.001"
    Seq("multimodal_decode_mp4", "multimodal_decode_flac", "multimodal_curate",
      "multimodal_mp4_samples", "multimodal_flac_frames",
      "multimodal_mp4_slice", "multimodal_flac_slice",
      "multimodal_mp4_keyframes", "multimodal_flac_seektable",
      "multimodal_flac_pcm")
      .foreach { name =>
        val p = plan(SparkEntry.queries(name)(spark, sfDir))
        assert(!p.contains("Exchange") && !p.contains("Join"), s"$name:\n$p")
      }
  }

  test("registry golden schemas: every query's output columns are pinned") {
    // Column drift is invisible to the plan sweep and only surfaces in a
    // full DuckDB compare (a lost projection once shipped a whole fixture
    // table through sample_hash) — pin the exact output columns instead.
    // Regenerate by dumping `fn(spark, sfDir).columns` per query.
    val golden = Map[String, Seq[String]](
    "customers_no_orders" -> Seq("c_mktsegment", "n_inactive", "min_cust"),
    "decontaminate" -> Seq("doc_id", "n_shared"),
    "decontaminate_bloom" -> Seq("doc_id", "n_flagged"),
    "es_stream_decontaminate" -> Seq("doc_id", "n_hits"),
    "es_stream_semantic" -> Seq("existing", "incoming", "cosine"),
    "es_stream_classify" -> Seq("doc_id", "n_tokens", "score_micro", "pred"),
    "decontaminate_report" -> Seq("doc_id", "n_grams", "n_shared", "permille"),
    "dedup_lines" -> Seq("doc_id", "text_dedup", "n_lines", "n_dropped"),
    "dedup_spans" -> Seq("doc_id", "text_dedup", "n_tokens", "n_removed"),
    "text_normalize" -> Seq("doc_id", "text_norm"),
    "dedup_clusters" -> Seq("doc_id", "cluster_id"),
    "dedup_cluster_best" -> Seq("cluster_id", "rep_id", "rep_score"),
    "dedup_embedding" -> Seq("i", "j", "cosine"),
    "dedup_semantic" -> Seq("vec_id", "cell"),
    "dedup_semantic_probe" -> Seq("existing", "incoming", "cosine"),
    "dedup_exact" -> Seq("doc_id", "h", "dups"),
    "multimodal_dedup_cdc" -> Seq("i", "j", "n_shared"),
    "multimodal_probe_persisted" -> Seq("incoming", "existing", "n_shared"),
    "multimodal_probe_appended" -> Seq("incoming", "existing", "n_shared"),
    "es_stream_media_append" -> Seq("incoming", "existing", "n_shared"),
    "multimodal_probe_compacted" -> Seq("incoming", "existing", "n_shared"),
    "text_bpe_bytes" -> Seq("token", "n"),
    "text_bpe_bytes_ids" -> Seq("doc_id", "pos", "token_id"),
    "sim_ivf_persisted" -> Seq("qid", "nid", "rank", "score"),
    "sim_ivf_append" -> Seq("qid", "nid", "rank", "score"),
    "sim_pq_append" -> Seq("qid", "nid", "rank", "adist"),
    "es_stream_pq_append" -> Seq("qid", "nid", "rank", "adist"),
    "sim_ivf_pq_persisted" -> Seq("qid", "nid", "rank", "adist"),
    "sim_ivf_pq_append" -> Seq("qid", "nid", "rank", "adist"),
    "es_stream_ivf_pq_append" -> Seq("qid", "nid", "rank", "adist"),
    "sim_ivf_time_travel" -> Seq("qid", "nid", "rank", "score"),
    "es_stream_ivf_append" -> Seq("qid", "nid", "rank", "score"),
    "es_stream_lsh_append" -> Seq("qid", "nid", "rank", "score"),
    "sim_ivf_compact" -> Seq("qid", "nid", "rank", "score"),
    "sim_ivf_replay" -> Seq("qid", "nid", "rank", "score"),
    "sim_lsh_persisted" -> Seq("qid", "nid", "rank", "score"),
    "sim_lsh_append" -> Seq("qid", "nid", "rank", "score"),
    "sim_lsh_compact" -> Seq("qid", "nid", "rank", "score"),
    "es_etl_fanin" -> Seq("base_offset", "src", "src_off", "event_type"),
    "es_etl_fanout" -> Seq("dst", "base_offset", "src_off", "event_type"),
    "es_group_lag" -> Seq("grp", "committed", "position", "next_offset", "lag"),
    "es_catalog_group_lag" -> Seq("stream", "grp", "committed", "position", "next_offset", "lag"),
    "es_catalog_fanout_intents" -> Seq("stream", "grp", "intent_from", "intent_up_to", "position", "next_offset"),
    "pipeline_sql" -> Seq("doc_id", "source", "n_tokens", "cum_tokens"),
    "es_stream_temperature" -> Seq("doc_id", "source"),
    "es_stream_token_budget" -> Seq("doc_id", "source", "n_tokens", "cum_tokens"),
    "es_stream_media_dedup" -> Seq("incoming", "existing", "n_shared"),
    "dedup_incremental" -> Seq("existing", "incoming"),
    "dedup_incremental_persisted" -> Seq("existing", "incoming"),
    "dedup_incremental_appended" -> Seq("existing", "incoming"),
    "es_stream_dedup_append" -> Seq("existing", "incoming"),
    "dedup_jaccard" -> Seq("i", "j", "jaccard"),
    "dedup_minhash" -> Seq("i", "j"),
    "dedup_simhash" -> Seq("doc_id", "simhash"),
    "es_agg_by_type" -> Seq("event_type", "n", "first_off", "last_off"),
    "es_append_scan" -> Seq("base_offset", "ts_ms", "event_type", "props"),
    "es_catalog" -> Seq("name", "stream_id", "epoch", "start_offset", "next_offset", "deleted"),
    "es_catalog_scan" -> Seq("stream_id", "base_offset", "payload_str"),
    "es_catalog_batch" -> Seq("batch", "name", "stream_id", "status"),
    "es_codec" -> Seq("doc_id", "text"),
    "es_ingest_object" -> Seq("base_offset", "ts_ms", "event_type", "props"),
    "es_ingest_pd" -> Seq("stream_id", "epoch", "replica", "ack_count",
      "retention_ms", "start_offset", "next_offset", "seg_index", "seg_start",
      "seg_end", "sealed", "n_records"),
    "es_pd_backfill" -> Seq("base_offset", "ts_ms", "event_type", "props"),
    "es_export_object" -> Seq("base_offset", "ts_ms", "event_type", "props"),
    "es_export_wal" -> Seq("base_offset", "ts_ms", "event_type", "props"),
    "es_stream_export" -> Seq("base_offset", "ts_ms", "event_type", "props"),
    "es_ingest_wal" -> Seq("base_offset", "ts_ms", "event_type", "props"),
    "es_compact" -> Seq("base_offset", "last_offset_delta", "payload_str"),
    "es_delete" -> Seq("deleted", "n_live_files"),
    "es_describe" -> Seq("stream_id", "epoch", "start_offset", "next_offset", "replica", "ack_count"),
    "es_fetch_hot" -> Seq("base_offset", "event_type"),
    "es_fetch_range" -> Seq("base_offset", "event_type"),
    "es_fetch_straddle" -> Seq("base_offset", "last_offset_delta", "payload_str"),
    "es_history" -> Seq("version", "seq", "action"),
    "es_idempotent" -> Seq("retry_rejected", "gap_rejected", "n_rows"),
    "es_kv" -> Seq("key", "value"),
    "es_object_log" -> Seq("base_offset", "event_type"),
    "es_offsets" -> Seq("stream", "start_offset", "next_offset"),
    "es_retention" -> Seq("base_offset", "base_timestamp"),
    "es_retention_size" -> Seq("base_offset", "event_type"),
    "es_segments" -> Seq("seg_index", "start_offset", "end_offset", "sealed", "epoch", "num_records"),
    "es_sessions" -> Seq("user_id", "sid", "start_ms", "end_ms", "n"),
    "es_snapshot" -> Seq("base_offset", "event_type"),
    "es_scan_delta" -> Seq("base_offset", "event_type"),
    "es_fetch_time" -> Seq("base_offset", "ts_ms", "event_type"),
    "es_offset_for_time" -> Seq("probe_ms", "offset"),
    "es_group_commit" -> Seq("base_offset", "event_type"),
    "es_etl" -> Seq("base_offset", "src_off", "event_type"),
    "es_symlink" -> Seq("base_offset", "event_type"),
    "es_clone" -> Seq("base_offset", "event_type"),
    "es_stream_asof" -> Seq("user_id", "offset", "t", "matched_offset", "matched_t"),
    "es_stream_dedup" -> Seq("k"),
    "es_stream_join" -> Seq("pair_id", "even_id", "odd_id", "even_type", "odd_type"),
    "es_stream_kmv" -> Seq("hour_start_ms", "n_kept", "kth_hash", "n_distinct_est"),
    "es_stream_cms" -> Seq("hour_start_ms", "d", "slot", "cnt"),
    "es_stream_bloom" -> Seq("hour_start_ms", "n_slots", "slot_min", "slot_max", "slot_xor"),
    "es_stream_quantile" -> Seq("hour_start_ms", "permille", "q_value"),
    "es_stream_sample" -> Seq("hour_start_ms", "event_id"),
    "es_stream_diverse" -> Seq("cell", "vec_id"),
    "es_stream_roundtrip" -> Seq("ts_ms", "event_type", "props"),
    "es_stream_sessions" -> Seq("user_id", "sid", "start_ms", "end_ms", "n"),
    "es_stream_window" -> Seq("hour_start_ms", "n"),
    "es_trim" -> Seq("base_offset", "event_type"),
    "es_update_describe" -> Seq("stream_id", "replica", "ack_count", "retention_ms", "epoch", "deleted"),
    "es_watch_meta" -> Seq("version", "seq", "action"),
    "es_watch_catalog" -> Seq("revision", "seq", "op", "name", "stream_id"),
    "es_catalog_subscribe" -> Seq("stream_id", "base_offset", "payload_str"),
    "es_window_hourly" -> Seq("hour", "n", "first_off", "last_off"),
    "join_agg" -> Seq("c_mktsegment", "o_orderpriority", "n_lines", "min_order", "max_part", "sum_qty"),
    "join_asof" -> Seq("user_id", "event_id", "ts_ms", "matched_event_id", "matched_ts_ms", "matched_value"),
    "join_overlap" -> Seq("user_id", "aid", "bid", "alo", "ahi", "blo", "bhi"),
    "join_range" -> Seq("interval_id", "point_id", "user_id", "ts_ms", "lo", "hi"),
    "join_salted" -> Seq("o_orderpriority", "n_lines", "sum_qty"),
    "layout_zorder" -> Seq("event_id", "z_value"),
    "lineitem_agg" -> Seq("l_returnflag", "l_linestatus", "sum_qty", "n", "avg_qty", "min_ship_ms", "max_ship_ms"),
    "multimodal_decode" -> Seq("media_id", "content_type", "n_bytes", "width", "height", "duration_ms", "checksum"),
    "multimodal_decode_wav" -> Seq("media_id", "channels", "sample_rate", "n_samples", "duration_ms", "sum_abs", "peak"),
    "multimodal_decode_bmp" -> Seq("media_id", "width", "height", "sum_r", "sum_g", "sum_b"),
    "multimodal_decode_png" -> Seq("media_id", "width", "height", "sum_r", "sum_g", "sum_b"),
    "multimodal_decode_mp4" -> Seq("media_id", "brand", "n_tracks", "width", "height", "duration_ms", "n_samples", "audio_rate", "codecs"),
    "es_stream_media_decode" -> Seq("media_id", "brand", "n_tracks", "width", "height", "duration_ms", "n_samples", "audio_rate", "codecs"),
    "multimodal_decode_flac" -> Seq("media_id", "sample_rate", "channels", "bits_per_sample", "n_samples", "duration_ms"),
    "multimodal_mp4_samples" -> Seq("media_id", "track_id", "sample_idx", "rel_offset", "size", "dts"),
    "es_stream_mp4_samples" -> Seq("media_id", "track_id", "sample_idx", "rel_offset", "size", "dts"),
    "multimodal_flac_frames" -> Seq("media_id", "frame_idx", "byte_offset", "sample_offset"),
    "multimodal_mp4_slice" -> Seq("media_id", "track_id", "sample_idx", "n_bytes", "byte_sum"),
    "multimodal_mp4_keyframes" -> Seq("media_id", "track_id", "sample_idx", "pts", "is_sync"),
    "multimodal_flac_slice" -> Seq("media_id", "frame_idx", "n_bytes", "byte_sum"),
    "multimodal_flac_seektable" -> Seq("media_id", "point_idx", "sample_number", "byte_offset", "frame_samples"),
    "multimodal_flac_pcm" -> Seq("media_id", "frame_idx", "channel", "n_samples", "sum_pcm", "peak"),
    "multimodal_curate" -> Seq("media_id", "width", "height", "duration_ms", "audio_rate", "n_samples"),
    "multimodal_frames" -> Seq("media_id", "n_frames", "frame_idx"),
    "multimodal_dedup" -> Seq("i", "j", "n_shared"),
    "ts_similarity" -> Seq("qid", "nid", "rank", "score"),
    "pipeline_export" -> Seq("doc_id", "text_truncated", "n_tokens_kept"),
    "pivot_orders" -> Seq("o_orderstatus", "p0", "p1", "p2", "p3", "p4"),
    "region_chain" -> Seq("r_name", "n_name", "n_lines", "sum_qty", "max_order"),
    "rollup_orders" -> Seq("o_orderpriority", "o_orderstatus", "n", "min_key"),
    "sample_hash" -> Seq("doc_id"),
    "sample_stratified" -> Seq("doc_id", "lang"),
    "sample_topk_group" -> Seq("lang", "doc_id"),
    "sample_weighted" -> Seq("doc_id"),
    "sample_diverse" -> Seq("cell", "vec_id"),
    "sample_split" -> Seq("doc_id", "split"),
    "text_vocab" -> Seq("term", "n_occ", "n_docs", "token_id"),
    "text_vocab_encode" -> Seq("doc_id", "pos", "token_id"),
    "text_classify" -> Seq("doc_id", "n_tokens", "score_micro", "pred"),
    "text_bpe" -> Seq("token", "n"),
    "text_unigram" -> Seq("doc_id", "wi", "pj", "piece_id"),
    "es_stream_unigram" -> Seq("doc_id", "wi", "pj", "piece_id"),
    "text_bpe_ids" -> Seq("doc_id", "pos", "token_id"),
    "es_stream_bpe" -> Seq("doc_id", "pos", "token_id"),
    "es_compact_zorder" -> Seq("base_offset", "base_timestamp", "event_type"),
    "sample_mix" -> Seq("doc_id", "source"),
    "sample_temperature" -> Seq("doc_id", "source"),
    "sample_token_budget" -> Seq("doc_id", "source", "n_tokens", "cum_tokens"),
    "shuffle_shards" -> Seq("doc_id", "shuffle_key", "shard", "shard_pos"),
    "sim_exact" -> Seq("qid", "nid", "rank", "score"),
    "sim_project" -> Seq("vec_id", "i", "yi"),
    "sim_project_topk" -> Seq("qid", "nid", "rank", "score"),
    "sim_pca" -> Seq("vec_id", "i", "yi"),
    "sim_pca_variance" -> Seq("i", "evar", "ratio"),
    "sim_pca_topk" -> Seq("qid", "nid", "rank", "score"),
    "sim_pca_persisted" -> Seq("vec_id", "i", "yi"),
    "es_stream_pca" -> Seq("vec_id", "i", "yi"),
    "decontaminate_fuzzy" -> Seq("doc_id", "bench_doc", "jaccard"),
    "decontaminate_fuzzy_persisted" -> Seq("doc_id", "bench_doc", "jaccard"),
    "es_stream_decontaminate_fuzzy" -> Seq("doc_id", "bench_doc", "jaccard"),
    "sim_ivf" -> Seq("qid", "nid", "rank", "score"),
    "sim_ivf_kmeans" -> Seq("qid", "nid", "rank", "score"),
    "sim_pq" -> Seq("qid", "nid", "rank", "adist"),
    "sim_ivf_pq" -> Seq("qid", "nid", "rank", "adist"),
    "sim_lsh" -> Seq("qid", "nid", "rank", "score"),
    "sim_quantize" -> Seq("vec_id", "q_scale", "i", "qi"),
    "sketch_bloom" -> Seq("tok", "maybe_present"),
    "sketch_hll" -> Seq("lang", "bucket", "rho"),
    "es_stream_hll" -> Seq("hour_start_ms", "bucket", "rho"),
    "sketch_kmv_overlap" -> Seq("lang", "n_kept", "n_both", "n_union_est",
      "jaccard_permille", "n_inter_est"),
    "text_datacard" -> Seq("lang", "n_docs", "n_tokens", "n_chars",
      "n_dup_docs", "median_doc_tokens", "vocab_est"),
    "sketch_cms" -> Seq("tok", "true_cnt", "est_cnt"),
    "sketch_kmv" -> Seq("lang", "n_kept", "kth_hash", "n_distinct_est"),
    "sql_fetch" -> Seq("base_offset", "event_type", "h"),
    "sql_topk" -> Seq("qid", "nid", "rank", "score"),
    "stats_histogram" -> Seq("event_type", "bucket", "n", "bucket_lo"),
    "stats_quantiles" -> Seq("l_returnflag", "permille", "q_value"),
    "stats_quantiles_approx" -> Seq("event_type", "permille", "q_lo"),
    "stats_quantiles_sample" -> Seq("l_returnflag", "permille", "q_value"),
    "text_domains" -> Seq("domain", "n_docs", "n_urls"),
    "text_filter" -> Seq("doc_id", "drop_reason", "keep"),
    "text_fingerprint" -> Seq("doc_id", "fp_md5", "fp60"),
    "text_langid" -> Seq("doc_id", "lang_pred", "s_de", "s_en", "s_es", "s_fr", "s_zh"),
    "text_lm" -> Seq("doc_id", "n_bigrams", "nll_scaled"),
    "text_lm_buckets" -> Seq("doc_id", "source", "mean_nll", "bucket"),
    "es_stream_lm" -> Seq("doc_id", "n_bigrams", "nll_scaled"),
    "es_stream_lm_buckets" -> Seq("doc_id", "source", "mean_nll", "bucket"),
    "text_pack" -> Seq("doc_id", "shard", "n_tokens", "pack_id"),
    "text_quality" -> Seq("doc_id", "n_tokens", "lexical_diversity", "stopword_ratio", "digit_ratio", "punct_ratio"),
    "text_redact" -> Seq("doc_id", "text_redacted"),
    "text_repetition" -> Seq("doc_id", "top_ngram_frac", "dup_ngram_frac"),
    "text_stats" -> Seq("doc_id", "n_chars", "n_tokens", "n_distinct", "avg_token_len"),
    "text_tfidf" -> Seq("doc_id", "term", "tf", "df", "term_rank"),
    "text_tokens" -> Seq("doc_id", "n_words", "n_numbers", "n_marks", "n_bpe_ish"),
    "text_truncate" -> Seq("doc_id", "text_truncated", "n_tokens_kept"),
    "text_chunk" -> Seq("doc_id", "chunk_id", "n_tokens", "chunk"),
    "es_stream_enrich_dim" -> Seq("c_mktsegment", "n_events", "min_user", "max_user"),
    "topk_orders" -> Seq("o_custkey", "o_orderkey", "rank"),
    "window_running" -> Seq("o_custkey", "o_orderkey", "cents", "order_seq", "run_cents", "prev_order")
    )
    val sfDir = "/root/testdata/sf0.001"
    val drift = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val got = fn(spark, sfDir).columns.toSeq
      golden.get(name) match {
        case None => Some(s"$name: not in golden map (add it)")
        case Some(want) if want != got => Some(s"$name: got $got want $want")
        case _ => None
      }
    }
    assert(drift.isEmpty, drift.mkString("; "))
    assert(golden.keySet == SparkEntry.queries.keySet,
      s"stale golden entries: ${golden.keySet -- SparkEntry.queries.keySet}")
  }

  test("eslog scan projection prunes columns down to the parquet reader") {
    val dir = tmpDir("plan-prune-")
    graft.eslog.EsLog.create(dir)
    graft.eslog.EsLog.open(dir, 1L)
    graft.eslog.EsLog.append(spark, dir,
      spark.range(100).select(col("id"), col("id").cast("string").cast("binary").as("payload")),
      1L, numPartitions = 2)
    val p = plan(graft.eslog.EsLog.scan(spark, dir).select("base_offset"))
    // ReadSchema must not include payload/properties for an offsets-only query
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse(p)
    assert(!readSchema.contains("payload"), readSchema)
  }
}
