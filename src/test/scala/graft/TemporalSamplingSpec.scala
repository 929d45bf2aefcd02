package graft

import org.apache.spark.sql.functions._

import graft.operators.{Sampling, Similarity, Temporal, TextAnalysis}

class TemporalSamplingSpec extends SparkSpec {

  private def bucketOf(term: String): Int =
    (operators.TextIndex.polyHashJvm(term) % operators.TextIndex.Buckets).toInt

  /** `n` words whose buckets none of `avoid` hashes to — the text of a
    * generation that holds none of a query's bucket partitions. */
  private def wordsOutside(avoid: Seq[String], n: Int): Seq[String] = {
    val taken = avoid.map(bucketOf).toSet
    Iterator.from(0).map(i => s"filler$i").filterNot(w => taken(bucketOf(w))).take(n).toSeq
  }

  /** A term whose bucket no word of `docs` (every version ever written)
    * hashes to: its probe reads no partition of any generation. */
  private def absentTerm(docs: Seq[(Long, String)]): String = {
    val present = docs.flatMap(_._2.split(" ")).map(bucketOf).toSet
    Iterator.from(0).map(i => s"absent$i").find(w => !present(bucketOf(w))).get
  }

  test("j6 as-of join: every event gets exactly one rate, and it is the day-floor rate") {
    val out = Temporal.queries("j6_asof_join")(spark, sf)
    val events = Tables.events(spark, sf)
    assert(out.count() == events.count())
    assert(out.groupBy("event_id").count().filter(col("count") > 1).count() == 0)
    // rates are daily with all event ts inside the covered month, so the
    // as-of pick equals the direct recompute from the event's own day
    val recomputed = events.select(col("event_id"),
      (lit(1.0)
        + (floor((unix_timestamp(col("ts")) - 1704067200L) / 86400) % 7) * lit(0.25)
        + length(col("event_type")) * lit(0.125)).as("expect"))
    val joined = out.join(recomputed, "event_id")
    assert(joined.filter(col("rate") =!= col("expect")).count() == 0)
  }

  test("asofJoin survives colliding __side-style user columns and map-typed values") {
    // regression for ADVICE r3: internal names used to be fixed
    // (__carrier/__side/__filled) and the carrier sat in the window
    // ORDER BY, so a map-typed value threw an AnalysisException
    import spark.implicits._
    val probe = Seq(("a", 10L, "keep-me", 7), ("a", 20L, "also", 8), ("b", 5L, "none", 9))
      .toDF("k", "ts", "__side", "__carrier")
    val build = Seq(("a", 10L, Map("x" -> 1)), ("a", 15L, Map("y" -> 2)), ("b", 99L, Map("z" -> 3)))
      .toDF("k", "ts", "v")
    val out = Temporal.asofJoin(probe, build, "k", "ts", "v")
      .orderBy("k", "ts").collect()
    assert(out.length == 3)
    // user columns pass through untouched
    assert(out(0).getAs[String]("__side") == "keep-me" && out(0).getAs[Int]("__carrier") == 7)
    assert(out(0).getAs[Map[String, Int]]("v") == Map("x" -> 1))   // at-or-before: equal ts
    assert(out(1).getAs[Map[String, Int]]("v") == Map("y" -> 2))   // latest build ≤ 20
    assert(out(2).isNullAt(out(2).fieldIndex("v")))                // no build at-or-before
  }

  test("asofJoin duplicate (key, ts) build rows: greatest orderable value wins deterministically") {
    import spark.implicits._
    val probe = Seq(("a", 10L)).toDF("k", "ts")
    val build = Seq(("a", 10L, 1.0), ("a", 10L, 9.0), ("a", 10L, 4.0)).toDF("k", "ts", "v")
    val out = Temporal.asofJoin(probe, build, "k", "ts", "v").collect()
    assert(out.length == 1 && out(0).getAs[Double]("v") == 9.0)
  }

  test("j7 range join matches the brute-force theta-join") {
    val out = Temporal.queries("j7_range_join")(spark, sf)
    // brute force: every pair checked directly (fine at spec scale)
    val events = Tables.events(spark, sf).select(col("event_id"), col("ts"))
    val w = spark.range(60).toDF("window_id")
      .select(col("window_id"),
        expr("timestamp_seconds(1704067200 + window_id * 43200)").as("ws"),
        expr("timestamp_seconds(1704067200 + window_id * 43200 + (21600 + (window_id % 4) * 43200))").as("we"))
    val brute = events.crossJoin(w)
      .filter(col("ts") >= col("ws") && col("ts") < col("we"))
      .select(col("event_id"), col("window_id"))
    assert(out.exceptAll(brute).count() == 0)
    assert(brute.exceptAll(out).count() == 0)
  }

  test("hash sampling is deterministic, subset-stable, and stratified rates order correctly") {
    val p8a = Sampling.queries("p8_hash_sample")(spark, sf).collect().toSet
    val p8b = Sampling.queries("p8_hash_sample")(spark, sf).collect().toSet
    assert(p8a == p8b && p8a.nonEmpty)
    // stratified: de's 5% keep-set is a subset of the uniform 10% set;
    // en's 20% is a superset (same hash, different cutoffs)
    val p9 = Sampling.queries("p9_stratified_sample")(spark, sf)
    val p8 = Sampling.queries("p8_hash_sample")(spark, sf)
    assert(p9.filter(col("lang") === "de")
      .join(p8, Seq("doc_id"), "left_anti").count() == 0)
    assert(p8.filter(col("lang") === "en")
      .join(p9, Seq("doc_id"), "left_anti").count() == 0)
  }

  test("tfidf: df bounded by corpus size, rare tokens outscore stopword-grade tokens") {
    val out = TextAnalysis.queries("t_tfidf")(spark, sf)
    val n = Tables.documents(spark, sf).count()
    assert(out.filter(col("df") > n || col("df") < 1).count() == 0)
    assert(out.filter(col("token") === "").count() == 0)
    // for equal tf, lower df means strictly higher score
    val one = out.filter(col("tf") === 1)
    val byDf = one.groupBy("df").agg(max("score").as("mx"), min("score").as("mn"))
      .orderBy("df").collect()
    byDf.sliding(2).foreach { case Array(a, b) =>
      assert(a.getDouble(2) > b.getDouble(1),
        s"df=${a.getLong(0)} should outscore df=${b.getLong(0)}")
      case _ => ()
    }
  }

  test("bm25: hand-computed scores on a 3-doc fixture; non-matching docs absent") {
    // N=3, avgdl=3, df(a)=2 → idf = 1.5/2.5 = 0.6
    // doc 1 (tf=1): 0.6 * 2.2/(1 + 1.2) = 0.6 ; doc 2 (tf=2): 0.6 * 4.4/3.2 = 0.825
    import spark.implicits._
    val docs = Seq((1L, "x x a"), (2L, "a a x"), (3L, "x y z")).toDF("id", "body")
    val out = Graft.text.bm25Topk(docs, "id", "body", Seq("a"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.toSeq == Seq((2L, 0.825), (1L, 0.6)))
  }

  test("bm25 index-serving parity: t_bm25_indexed returns exactly t_bm25's rows") {
    val inQuery = TextAnalysis.queries("t_bm25")(spark, sf).collect().toSeq
    val indexed = operators.TextIndex.queries("t_bm25_indexed")(spark, sf).collect().toSeq
    assert(indexed == inQuery)
  }

  test("bm25f index-serving parity: t_bm25f_indexed returns exactly t_bm25f's rows") {
    val inQuery = TextAnalysis.queries("t_bm25f")(spark, sf).collect().toSeq
    val indexed = operators.TextIndex.queries("t_bm25f_indexed")(spark, sf).collect().toSeq
    assert(indexed == inQuery)
  }

  test("bm25f LSM law: fielded probes equal the in-query BM25F on the surviving corpus through upsert, supersede, delete, compact, and asOf pins") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_text_lsm_f").toString
    val terms = Seq("vector", "hash")
    def servedAt(asOf: Option[Long] = None) =
      Graft.text.bm25fTopkAt(spark, root, terms, 10, asOf).collect().toSeq
    def inQueryOf(docs: Seq[(Long, String)]) =
      operators.TextAnalysis
        .bm25fTopkOf(docs.toDF("doc_id", "text"), terms, 10).collect().toSeq
    // > Bm25fTitleLen tokens in some docs so title/body genuinely split
    val v1 = Seq(
      (1L, "vector hash a b c d e f g h vector vector"),
      (2L, "x y z q w e r t vector hash hash"),
      (3L, "hash hash b c d e f g h i j"),
      (4L, "plain body only m n o p q r s t u v"))
    val v2New = Seq((5L, "vector k l m n o p q r vector"))
    val v2Resend = Seq((2L, "hash now in title b c d e f g vector"))
    operators.TextIndex.build(v1.toDF("doc_id", "text"), root)
    assert(servedAt() == inQueryOf(v1))
    val pin1 = Graft.text.bm25Snapshots(spark, root).max
    operators.TextIndex.upsert((v2New ++ v2Resend).toDF("doc_id", "text"), root)
    val afterUpsert = v1.filterNot(_._1 == 2L) ++ v2New ++ v2Resend
    assert(servedAt() == inQueryOf(afterUpsert))
    operators.TextIndex.delete(Seq(3L).toDF("doc_id"), root)
    val afterDelete = afterUpsert.filterNot(_._1 == 3L)
    assert(servedAt() == inQueryOf(afterDelete))
    // a fourth generation holding none of the query terms' buckets: the
    // probe skips its postings yet still counts its docs in the stats
    val sparse = Seq((6L, wordsOutside(terms, 12).mkString(" ")))
    operators.TextIndex.upsert(sparse.toDF("doc_id", "text"), root)
    val afterSparse = afterDelete ++ sparse
    assert(servedAt() == inQueryOf(afterSparse))
    // terms hashing only to absent buckets: empty, with the probe schema
    val absent = Graft.text.bm25fTopkAt(spark, root,
      Seq(absentTerm(v1 ++ v2New ++ v2Resend ++ sparse)), 10)
    assert(absent.collect().isEmpty)
    assert(absent.schema == Graft.text.bm25fTopkAt(spark, root, terms, 10).schema)
    operators.TextIndex.compact(spark, root)
    assert(servedAt() == inQueryOf(afterSparse))
    // the snapshot pin replays the PRE-upsert fielded state
    assert(servedAt(asOf = Some(pin1)) == inQueryOf(v1))
  }

  test("phrase index parity: t_bm25_phrase_indexed returns exactly t_bm25_phrase's rows") {
    val inQuery = TextAnalysis.queries("t_bm25_phrase")(spark, sf).collect().toSeq
    val indexed = operators.TextIndex.queries("t_bm25_phrase_indexed")(spark, sf).collect().toSeq
    assert(indexed == inQuery)
  }

  test("phrase LSM law: positional probes equal the in-query phrase scorer through upserts that MOVE the phrase, deletes, compaction, and asOf pins") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_text_lsm_ph").toString
    val phrase = Seq("vector", "hash")
    def servedAt(asOf: Option[Long] = None) =
      Graft.text.phraseBm25At(spark, root, phrase, 10, asOf).collect().toSeq
    def inQueryOf(docs: Seq[(Long, String)]) =
      operators.TextAnalysis
        .phraseBm25Of(docs.toDF("doc_id", "text"), phrase, 10).collect().toSeq
    val v1 = Seq(
      (1L, "alpha vector hash beta"),          // phrase present
      (2L, "vector beta hash"),                // both terms, NOT adjacent
      (3L, "hash vector gamma"),               // both terms, wrong order
      (4L, "vector hash vector hash"),         // present twice
      (5L, "delta epsilon"))
    operators.TextIndex.build(v1.toDF("doc_id", "text"), root)
    assert(servedAt() == inQueryOf(v1))
    val pin1 = Graft.text.bm25Snapshots(spark, root).max
    // the re-send MOVES the phrase: doc 2 gains adjacency, doc 1 loses
    // it — stale positions from the superseded generation would get
    // both wrong
    val v2 = Seq(
      (1L, "alpha vector beta hash"),
      (2L, "zeta vector hash"),
      (6L, "vector hash eta"))
    operators.TextIndex.upsert(v2.toDF("doc_id", "text"), root)
    val after = v1.filterNot(d => Set(1L, 2L)(d._1)) ++ v2
    assert(servedAt() == inQueryOf(after))
    operators.TextIndex.delete(Seq(4L).toDF("doc_id"), root)
    val afterDel = after.filterNot(_._1 == 4L)
    assert(servedAt() == inQueryOf(afterDel))
    // a fourth generation holding none of the phrase's buckets
    val sparse = Seq((7L, wordsOutside(phrase, 6).mkString(" ")))
    operators.TextIndex.upsert(sparse.toDF("doc_id", "text"), root)
    val afterSparse = afterDel ++ sparse
    assert(servedAt() == inQueryOf(afterSparse))
    val absent = Graft.text.phraseBm25At(spark, root, Seq(absentTerm(v1 ++ v2 ++ sparse)), 10)
    assert(absent.collect().isEmpty)
    assert(absent.schema == Graft.text.phraseBm25At(spark, root, phrase, 10).schema)
    operators.TextIndex.compact(spark, root)
    assert(servedAt() == inQueryOf(afterSparse))
    // the pin replays the ORIGINAL positions (doc 1 adjacent, doc 2 not)
    assert(servedAt(asOf = Some(pin1)) == inQueryOf(v1))
  }

  test("phrase snippets: first occurrence bracketed by the context window, start/end clamped") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b vector hash c d e f"),         // interior match
      (2L, "vector hash x y z"),               // match at the start
      (3L, "p q r s t u vector hash")).toDF("doc_id", "text") // match at the end
    val hits = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("doc_id", "bm25")
    val out = Graft.text.phraseSnippets(docs, hits, Seq("vector", "hash"), context = 3)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) == "a b vector hash c d e")
    assert(out(2L) == "vector hash x y z")
    assert(out(3L) == "s t u vector hash")
  }

  test("text index incremental: build + upsert probes equal the in-query BM25 exactly") {
    val root = java.nio.file.Files.createTempDirectory("graft_text_idx").toString
    val docs = Tables.documents(spark, sf)
    operators.TextIndex.build(docs.filter(col("doc_id") % 2 === 0), root)
    operators.TextIndex.upsert(docs.filter(col("doc_id") % 2 =!= 0), root)
    val served = Graft.text.bm25TopkAt(spark, root, Seq("vector", "hash"), 15)
      .collect().toSeq
    val inQuery = operators.TextAnalysis
      .bm25TopkOf(docs, Seq("vector", "hash"), 15).collect().toSeq
    assert(served == inQuery)
    // second upsert on top must refuse nothing and stay consistent:
    // appending an empty batch changes no score
    operators.TextIndex.upsert(docs.limit(0), root)
    val again = Graft.text.bm25TopkAt(spark, root, Seq("vector", "hash"), 15)
      .collect().toSeq
    assert(again == inQuery)
    // a non-empty generation holding none of the query terms' buckets
    // is skipped by the probe's read, yet its docs count in the stats
    import spark.implicits._
    val sparse = Seq((1000000L, wordsOutside(Seq("vector", "hash"), 8).mkString(" ")))
      .toDF("doc_id", "text")
    operators.TextIndex.upsert(sparse, root)
    val withSparse = docs.select(col("doc_id"), col("text")).unionByName(sparse)
    assert(Graft.text.bm25TopkAt(spark, root, Seq("vector", "hash"), 15).collect().toSeq ==
      operators.TextAnalysis.bm25TopkOf(withSparse, Seq("vector", "hash"), 15)
        .collect().toSeq)
  }

  test("bm25 batch probe: each query's slice equals its single-query indexed probe exactly") {
    import spark.implicits._
    val qs = operators.TextIndex.Bm25BatchQueries
    val frame = qs.flatMap { case (id, ts) => ts.map(id -> _) }
      .toDF("query_id", "term")
    val batch = Graft.text.bm25TopkBatch(spark, sf, frame, 5).collect()
      .groupBy(_.getLong(0))
    qs.foreach { case (id, terms) =>
      val single = Graft.text.bm25TopkIndexed(spark, sf, terms, 5).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val slice = batch.getOrElse(id, Array.empty).sortBy(_.getLong(1))
        .map(r => (r.getLong(2), r.getDouble(3))).toSeq
      assert(slice == single, s"query $id: $slice vs $single")
    }
  }

  test("text index: re-sends, deletes, revival, compaction — probes equal the in-query scorer on the surviving corpus at every step") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_text_lsm").toString
    val terms = Seq("vector", "hash", "stream")
    def topkAt() = Graft.text.bm25TopkAt(spark, root, terms, 10).collect().toSeq
    def topkOf(docs: org.apache.spark.sql.DataFrame) =
      operators.TextAnalysis.bm25TopkOf(docs, terms, 10).collect().toSeq

    val v1 = Seq(
      (1L, Option("vector hash stream alpha")),
      (2L, Option("vector vector beta")),
      (3L, Option("hash gamma gamma hash")),
      (4L, Option("stream delta")),
      (5L, Option("epsilon zeta")),
      (6L, Option("vector stream stream eta")),
      (8L, Option.empty[String])).toDF("doc_id", "text")
    operators.TextIndex.build(v1, root)

    // re-send 2 (loses "vector") and 4 (gains it), add brand-new 7
    val batch = Seq(
      (2L, "beta beta hash"),
      (4L, "stream stream vector"),
      (7L, "vector theta")).toDF("doc_id", "text")
    val acct = operators.TextIndex.upsert(batch, root).collect()(0)
    assert((acct.getLong(1), acct.getLong(2), acct.getLong(3)) == (3L, 1L, 2L))
    val afterUpsert = Seq(
      (1L, Option("vector hash stream alpha")),
      (2L, Option("beta beta hash")),
      (3L, Option("hash gamma gamma hash")),
      (4L, Option("stream stream vector")),
      (5L, Option("epsilon zeta")),
      (6L, Option("vector stream stream eta")),
      (7L, Option("vector theta")),
      (8L, Option.empty[String])).toDF("doc_id", "text")
    assert(topkAt() == topkOf(afterUpsert))

    // delete 3 (live) and 99 (absent): only the live one tombstones
    val del = operators.TextIndex.delete(Seq(3L, 99L).toDF("doc_id"), root).collect()(0)
    assert(del.getLong(1) == 1L)
    val afterDelete = afterUpsert.filter(col("doc_id") =!= 3L)
    assert(topkAt() == topkOf(afterDelete))
    // idempotent: deleting 3 again publishes nothing
    val del2 = operators.TextIndex.delete(Seq(3L).toDF("doc_id"), root).collect()(0)
    assert(del2.getLong(0) == -1L && del2.getLong(1) == 0L)
    assert(topkAt() == topkOf(afterDelete))

    // revival: re-upserting 3 with NEW text makes it a fresh doc again
    val rev = operators.TextIndex
      .upsert(Seq((3L, "hash hash vector iota")).toDF("doc_id", "text"), root)
      .collect()(0)
    assert((rev.getLong(2), rev.getLong(3)) == (1L, 0L)) // dead id counts as new
    val afterRevive = afterDelete.unionByName(
      Seq((3L, Option("hash hash vector iota"))).toDF("doc_id", "text"))
    assert(topkAt() == topkOf(afterRevive))

    // postings-bloat accounting: the re-send/delete history left dead
    // physical rows behind (old + negation pairs); the policy loop
    // no-ops within budget
    val bloat = operators.TextIndex.indexStats(spark, root).collect()
    assert(bloat.map(_.getLong(3)).sum > 0L, bloat.mkString("\n"))
    assert(bloat.forall(r => r.getLong(1) == r.getLong(2) + r.getLong(3)))
    assert(Graft.text.bm25IndexCompactIfBloated(spark, root,
      maxDeadFraction = 0.99).isEmpty)

    // compaction folds the whole history into one generation, same scores
    val preCompact = topkAt()
    val comp = operators.TextIndex.compact(spark, root).collect()(0)
    assert(comp.getLong(0) == 8L) // 1..8 minus deleted-then-revived net
    assert(comp.getLong(1) >= 4L) // build + 2 upserts + delete folded
    assert(topkAt() == preCompact)
    // post-compact: no dead rows anywhere, policy loop stays a no-op
    val clean = operators.TextIndex.indexStats(spark, root).collect()
    assert(clean.forall(_.getLong(3) == 0L), clean.mkString("\n"))
    assert(Graft.text.bm25IndexCompactIfBloated(spark, root).isEmpty)

    // GC: old generation dirs are unreferenced now. A real grace window
    // protects a concurrent old-manifest reader; grace -1 forces.
    assert(Graft.text.bm25IndexSweep(spark, root, graceMs = 60L * 60 * 1000).isEmpty)
    val swept = Graft.text.bm25IndexSweep(spark, root, graceMs = -1L)
    assert(swept.count(_.startsWith("gen-")) == comp.getLong(1))
    val left = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(left.count(_.startsWith("gen-")) == 1)
    assert(topkAt() == preCompact)
  }

  test("text LSM batch probe: each query's slice equals its single probe over the signed-delta history") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_text_batch").toString
    operators.TextIndex.build(Seq(
      (1L, "vector hash stream alpha"), (2L, "vector vector beta"),
      (3L, "hash gamma gamma"), (4L, "stream delta"),
      (5L, "epsilon vector")).toDF("doc_id", "text"), root)
    // re-send 2 (loses a "vector"), add 6, delete 4 — the batch must
    // net the signed history exactly as the single probe does
    operators.TextIndex.upsert(Seq(
      (2L, "vector beta beta"), (6L, "hash stream zeta")).toDF("doc_id", "text"), root)
    operators.TextIndex.delete(Seq(4L).toDF("doc_id"), root)
    val panel = Seq(
      1L -> Seq("vector", "hash"), 2L -> Seq("stream"),
      3L -> Seq("hash", "gamma", "vector"))
    val frame = panel.flatMap { case (id, ts) => ts.map(id -> _) }
      .toDF("query_id", "term")
    val batch = Graft.text.bm25TopkBatchAt(spark, root, frame, 10)
      .collect().groupBy(_.getLong(0))
    assert(batch.keySet == panel.map(_._1).toSet)
    panel.foreach { case (qid, terms) =>
      val single = Graft.text.bm25TopkAt(spark, root, terms, 10).collect().toSeq
        .map(r => (r.getLong(0), r.getDouble(1)))
      val slice = batch(qid).toSeq.sortBy(_.getLong(1))
        .map(r => (r.getLong(2), r.getDouble(3)))
      assert(slice == single, s"query $qid:\n$slice\nvs\n$single")
      assert(!slice.exists(_._1 == 4L), "a deleted doc served")
    }
  }

  test("text index snapshots: asOf replays each published state; retention sweep expires them") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_text_snap").toString
    val terms = Seq("vector", "hash")
    def topkOf(docs: org.apache.spark.sql.DataFrame) =
      operators.TextAnalysis.bm25TopkOf(docs, terms, 10).collect().toSeq
    def asOf(v: Long) =
      Graft.text.bm25TopkAt(spark, root, terms, 10, asOf = Some(v)).collect().toSeq
    val v1 = Seq((1L, "vector alpha"), (2L, "hash beta"),
      (3L, "vector hash gamma")).toDF("doc_id", "text")
    operators.TextIndex.build(v1, root) // snapshot v0
    operators.TextIndex.upsert(Seq((4L, "vector delta"),
      (2L, "hash hash beta2")).toDF("doc_id", "text"), root) // v1
    operators.TextIndex.delete(Seq(1L).toDF("doc_id"), root) // v2
    assert(Graft.text.bm25Snapshots(spark, root) == Seq(0L, 1L, 2L))
    val afterUpsert = Seq((1L, "vector alpha"), (2L, "hash hash beta2"),
      (3L, "vector hash gamma"), (4L, "vector delta")).toDF("doc_id", "text")
    val afterDelete = afterUpsert.filter(col("doc_id") =!= 1L)
    // every snapshot replays the exact corpus state its publish left
    assert(asOf(0L) == topkOf(v1))
    assert(asOf(1L) == topkOf(afterUpsert))
    assert(asOf(2L) == topkOf(afterDelete))
    assert(Graft.text.bm25TopkAt(spark, root, terms, 10).collect().toSeq == asOf(2L))
    // the batch probe honors the same pin: a 1-query batch's slice
    // under asOf equals the single probe's answer at that snapshot
    def batchAsOf(v: Long) = Graft.text.bm25TopkBatchAt(spark, root,
        terms.map(t => (9L, t)).toDF("query_id", "term"), 10, asOf = Some(v))
      .collect().toSeq.sortBy(_.getLong(1))
      .map(r => (r.getLong(2), r.getDouble(3)))
    assert(batchAsOf(0L) == asOf(0L).map(r => (r.getLong(0), r.getDouble(1))))
    assert(batchAsOf(2L) == asOf(2L).map(r => (r.getLong(0), r.getDouble(1))))
    // compaction publishes a new snapshot; OLDER ones still replay
    // (their generation dirs are retained until the snapshots expire)
    operators.TextIndex.compact(spark, root)
    assert(asOf(0L) == topkOf(v1))
    assert(Graft.text.bm25Snapshots(spark, root) == Seq(0L, 1L, 2L, 3L))
    // retention: grace -1 expires every snapshot, then GCs the gens
    // only they referenced; the LIVE index keeps serving; an expired
    // asOf fails loudly instead of reading half-GC'd state
    val swept = operators.TextIndex.sweepUnreferenced(spark, root, graceMs = -1L)
    assert(swept.exists(_.contains(".v0")), swept.mkString(","))
    assert(Graft.text.bm25Snapshots(spark, root).isEmpty)
    assert(Graft.text.bm25TopkAt(spark, root, terms, 10).collect().toSeq ==
      topkOf(afterDelete))
    intercept[IllegalArgumentException] { asOf(0L) }
  }

  test("text index snapshot diff: added/removed/updated between any two retained versions") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_text_diff").toString
    operators.TextIndex.build(Seq((1L, "vector alpha"), (2L, "hash beta"),
      (3L, "vector hash gamma")).toDF("doc_id", "text"), root)          // v0
    operators.TextIndex.upsert(Seq((4L, "vector delta"),
      (2L, "hash hash beta2")).toDF("doc_id", "text"), root)            // v1
    operators.TextIndex.delete(Seq(1L).toDF("doc_id"), root)            // v2
    def diff(a: Long, b: Long) = Graft.text.bm25SnapshotDiff(spark, root, a, b)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(diff(0L, 1L) == Seq((2L, "updated"), (4L, "added")))
    assert(diff(1L, 2L) == Seq((1L, "removed")))
    assert(diff(0L, 2L) == Seq((1L, "removed"), (2L, "updated"), (4L, "added")))
    assert(diff(2L, 2L).isEmpty)
    // direction flips the verbs
    assert(diff(2L, 0L) == Seq((1L, "added"), (2L, "updated"), (4L, "removed")))
  }

  test("text index rollback: restores the snapshot state, discards the abandoned suffix, accepts new writes") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_text_rb").toString
    val terms = Seq("vector", "hash")
    def topkOf(docs: org.apache.spark.sql.DataFrame) =
      operators.TextAnalysis.bm25TopkOf(docs, terms, 10).collect().toSeq
    def live() = Graft.text.bm25TopkAt(spark, root, terms, 10).collect().toSeq
    val v1 = Seq((1L, "vector alpha"), (2L, "hash beta"),
      (3L, "vector hash gamma")).toDF("doc_id", "text")
    operators.TextIndex.build(v1, root)                                  // v0
    operators.TextIndex.upsert(
      Seq((4L, "vector bad batch")).toDF("doc_id", "text"), root)        // v1
    operators.TextIndex.delete(Seq(2L).toDF("doc_id"), root)             // v2
    assert(live() != topkOf(v1))
    Graft.text.bm25RollbackTo(spark, root, 0L)
    // live == the snapshot's corpus; later snapshots and gen dirs gone
    assert(live() == topkOf(v1))
    assert(Graft.text.bm25Snapshots(spark, root) == Seq(0L))
    val names = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(!names("gen-1") && !names("gen-2"), names.mkString(","))
    // history before the rollback point stays probeable
    assert(Graft.text.bm25TopkAt(spark, root, terms, 10, asOf = Some(0L))
      .collect().toSeq == topkOf(v1))
    // the index keeps working: gen-1 is reused safely and the result
    // equals the in-query BM25 of the new corpus
    operators.TextIndex.upsert(
      Seq((5L, "vector fresh")).toDF("doc_id", "text"), root)            // v1 again
    assert(Graft.text.bm25Snapshots(spark, root) == Seq(0L, 1L))
    assert(live() == topkOf(v1.unionByName(
      Seq((5L, "vector fresh")).toDF("doc_id", "text"))))
  }

  test("forget pipeline: one erasure request empties every surface — corpus, text index, ann index — and is idempotent") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 60)
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 60)
    val textRoot = java.nio.file.Files.createTempDirectory("graft_forget_t").toString
    val annRoot = java.nio.file.Files.createTempDirectory("graft_forget_a").toString
    val out = java.nio.file.Files.createTempDirectory("graft_forget_c").toString + "/v2"
    operators.TextIndex.build(docs, textRoot)
    operators.AnnIndex.build(emb, annRoot)
    val gone = Set(3L, 7L, 11L)
    val ids = gone.toSeq.toDF("doc_id")
    val cert = pipelines.Forget.forget(docs, ids, out, Some(textRoot), Some(annRoot))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(cert("corpus") == ((60L, 3L, 57L)), cert.toString)
    assert(cert("text_index") == ((60L, 3L, 57L)), cert.toString)
    assert(cert("ann_index") == ((60L, 3L, 57L)), cert.toString)
    // cross-surface law: the BM25 index serves exactly the surviving
    // corpus, and no probe can return a forgotten id
    val survivors = spark.read.parquet(out)
    val terms = Seq("vector", "hash")
    assert(Graft.text.bm25TopkAt(spark, textRoot, terms, 10).collect().toSeq ==
      operators.TextAnalysis.bm25TopkOf(survivors, terms, 10).collect().toSeq)
    val qv = emb.filter(col("vec_id") === 3L).select("embedding")
      .as[Array[Float]].collect()(0)
    val hits = Graft.ann.probe(spark, annRoot, qv, nprobe = 8, k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(hits.nonEmpty && hits.intersect(gone).isEmpty, hits.mkString(","))
    // idempotent: the same request again erases nothing further
    val cert2 = pipelines.Forget.forget(survivors, ids, out + "b",
        Some(textRoot), Some(annRoot))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(cert2.values.forall(_ == 0L), cert2.toString)
  }

  test("versioned corpus: append/forget publish snapshots; asOf/diff/rollback replay them; a pinned (corpus v, index v) pair replays retrieval byte-identically") {
    import spark.implicits._
    import graft.sources.CorpusStore
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 80)
    val v1docs = docs.filter(col("doc_id") < 60)
    val v2batch = docs.filter(col("doc_id") >= 60)
    val corpusRoot = java.nio.file.Files.createTempDirectory("graft_cstore").toString + "/c"
    val textRoot = java.nio.file.Files.createTempDirectory("graft_cstore_t").toString

    // v1: create corpus + build index from exactly that corpus version
    assert(CorpusStore.create(v1docs, corpusRoot) == 1L)
    operators.TextIndex.build(CorpusStore.read(spark, corpusRoot), textRoot)
    val indexV1 = operators.TextIndex.snapshots(spark, textRoot).max
    val terms = Seq("vector", "hash")
    val pinned = operators.TextIndex
      .bm25TopkAtRoot(spark, textRoot, terms, 10, asOf = Some(indexV1))
      .collect().toSeq

    // v2: append — corpus version advances, v1 still readable
    assert(CorpusStore.append(v2batch, corpusRoot) == 2L)
    operators.TextIndex.upsert(v2batch, textRoot)
    assert(CorpusStore.read(spark, corpusRoot).count() == 80L)
    assert(CorpusStore.asOf(spark, corpusRoot, 1L).count() == 60L)

    // v3: versioned forget — certificate carries the version pair on
    // every surface
    val gone = Seq(3L, 7L, 61L).toDF("doc_id")
    val cert = pipelines.Forget.forgetVersioned(spark, corpusRoot, gone,
        Some(textRoot), None)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(cert("corpus").getAs[Long]("n_deleted") == 3L)
    assert(cert("corpus").getAs[Long]("v_before") == 2L)
    assert(cert("corpus").getAs[Long]("v_after") == 3L)
    assert(cert("text_index").getAs[Long]("n_deleted") == 3L)
    assert(cert("text_index").getAs[Long]("v_after") >
      cert("text_index").getAs[Long]("v_before"))
    assert(CorpusStore.read(spark, corpusRoot).count() == 77L)

    // the doc-level diff audits exactly the erased ids
    val d23 = CorpusStore.snapshotDiff(spark, corpusRoot, 2L, 3L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d23 == Map(3L -> "removed", 7L -> "removed", 61L -> "removed"))
    val d13 = CorpusStore.snapshotDiff(spark, corpusRoot, 1L, 3L)
    assert(d13.filter(col("change") === "added").count() == 19L) // 60..79 minus 61
    assert(d13.filter(col("change") === "removed").count() == 2L) // 3, 7

    // re-running the same erasure is a versionless no-op
    val cert2 = pipelines.Forget.forgetVersioned(spark, corpusRoot, gone,
        Some(textRoot), None)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(cert2("corpus").getAs[Long]("n_deleted") == 0L)
    assert(cert2("corpus").getAs[Long]("v_after") == 3L)

    // THE PIN: after two corpus versions and two index mutations, the
    // (corpus v1, index v1) pair replays the original retrieval
    // byte-identically — from the pinned index snapshot AND
    // recomputed from scratch off the pinned corpus snapshot
    val replayIndexed = operators.TextIndex
      .bm25TopkAtRoot(spark, textRoot, terms, 10, asOf = Some(indexV1))
      .collect().toSeq
    val replayCorpus = TextAnalysis
      .bm25TopkOf(CorpusStore.asOf(spark, corpusRoot, 1L), terms, 10)
      .collect().toSeq
    assert(replayIndexed == pinned)
    assert(replayCorpus == pinned)

    // rollback: v2 becomes live again; the abandoned v3 is gone
    CorpusStore.rollbackTo(spark, corpusRoot, 2L)
    assert(CorpusStore.read(spark, corpusRoot).count() == 80L)
    assert(CorpusStore.snapshots(spark, corpusRoot) == Seq(1L, 2L))
    // and a fresh append after rollback reuses nothing stale
    assert(CorpusStore.append(Seq((999L, "late doc")).toDF("doc_id", "text"),
      corpusRoot) == 3L)
    assert(CorpusStore.read(spark, corpusRoot).count() == 81L)
  }

  test("corpus retention sweep: expired snapshots drop, current + live survive, orphaned segments GC'd, referenced ones kept") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_corpus_sweep").toString
    def doc(i: Long) = (i, s"doc body $i", "en", "web", (10 + i))
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    sources.CorpusStore.create((1L to 4L).map(doc).toDF(cols: _*), root)   // v1: seg-0
    sources.CorpusStore.append((5L to 6L).map(doc).toDF(cols: _*), root)   // v2: +seg-1
    // v3: forget ids living in seg-0 → seg-0 superseded by a rewrite
    sources.CorpusStore.forget(spark, root, Seq(1L, 2L).toDF("doc_id"))
    assert(sources.CorpusStore.snapshots(spark, root) == Seq(1L, 2L, 3L))
    val seg0 = new java.io.File(root, "seg-0")
    assert(seg0.isDirectory)
    val liveBefore = Graft.corpus.read(spark, root)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val deleted = Graft.corpus.sweep(spark, root, graceMs = 0L)
    // snapshots 1 and 2 expired; the CURRENT version always survives
    assert(sources.CorpusStore.snapshots(spark, root) == Seq(3L), s"$deleted")
    // seg-0 was referenced only by the expired snapshots — GC'd;
    // live members survive and the live read is unchanged
    assert(!seg0.isDirectory, s"$deleted")
    assert(new java.io.File(root, "seg-1").isDirectory)
    assert(Graft.corpus.read(spark, root)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == liveBefore)
    assert(Graft.corpus.asOf(spark, root, 3L).count() == liveBefore.length)
    intercept[IllegalArgumentException] { Graft.corpus.asOf(spark, root, 1L) }
    // stats still serve from the surviving version
    val st = Graft.corpus.statsAsOf(spark, root, 3L).collect()
    assert(st.map(_.getLong(1)).sum == liveBefore.length)
  }

  test("corpus stats sidecar: version stats serve from _stats metadata, not segment data; fallback computes for sidecar-less segments") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_corpus_stats").toString
    def doc(i: Long, lang: String) = (i, s"body $i", lang, "web", 100L + i)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    sources.CorpusStore.create(
      Seq(doc(1, "en"), doc(2, "en"), doc(3, "de")).toDF(cols: _*), root)
    sources.CorpusStore.append(Seq(doc(4, "de")).toDF(cols: _*), root)
    // sidecars exist for both segments and the stats agree with a
    // direct recompute over the corpus
    assert(new java.io.File(root, "_stats/seg-0").isDirectory)
    assert(new java.io.File(root, "_stats/seg-1").isDirectory)
    def statsMap() = Graft.corpus.statsAsOf(spark, root, 2L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(statsMap() == Map("en" -> ((2L, 203L)), "de" -> ((2L, 207L))))
    // read-path preference: plant a SENTINEL sidecar for seg-1 and the
    // served stats move with it — proof the metadata is what's read
    Seq(("zz", 7L, 777L)).toDF("lang", "n_docs", "sum_chars")
      .write.mode("overwrite").parquet(s"$root/_stats/seg-1")
    assert(statsMap() == Map("en" -> ((2L, 203L)), "de" -> ((1L, 103L)),
      "zz" -> ((7L, 777L))))
    // fallback: a sidecar-less segment (pre-sidecar store) computes
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root, "_stats/seg-1"), true)
    assert(statsMap() == Map("en" -> ((2L, 203L)), "de" -> ((2L, 207L))))
  }

  test("publish lock: two interleaved writers serialize — both upserts land (text + ann)") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // text: two threads race read-manifest → write-gen → publish on one
    // root; the lock serializes them, so neither generation is lost
    // (pre-lock, the loser died at the post-publish read-back AFTER
    // writing its generation bytes)
    val root = java.nio.file.Files.createTempDirectory("graft_text_lock").toString
    operators.TextIndex.build(Seq((1L, "vector alpha")).toDF("doc_id", "text"), root)
    val batches = Seq(
      Seq((2L, "vector beta")).toDF("doc_id", "text"),
      Seq((3L, "hash gamma")).toDF("doc_id", "text"))
    val gens = Await.result(
      Future.sequence(batches.map(b => Future {
        operators.TextIndex.upsert(b, root).collect()(0).getLong(0)
      })), 180.seconds)
    assert(gens.sorted == Seq(1L, 2L), s"lost generation: $gens")
    val served = Graft.text.bm25TopkAt(spark, root, Seq("vector", "hash"), 10)
      .collect().toSeq
    val expected = operators.TextAnalysis.bm25TopkOf(
      Seq((1L, "vector alpha"), (2L, "vector beta"), (3L, "hash gamma"))
        .toDF("doc_id", "text"),
      Seq("vector", "hash"), 10).collect().toSeq
    assert(served == expected)

    // ann: same race on the vector-index root; both disjoint batches
    // must be live afterwards
    val v = Tables.embeddings(spark, sf)
    val annRoot = java.nio.file.Files.createTempDirectory("graft_ann_lock").toString
    operators.AnnIndex.build(v.filter(col("vec_id") <= 100), annRoot)
    val annBatches = Seq(
      v.filter(col("vec_id") > 100 && col("vec_id") <= 110),
      v.filter(col("vec_id") > 110 && col("vec_id") <= 120))
    Await.result(
      Future.sequence(annBatches.map(b => Future {
        operators.AnnIndex.upsert(b, annRoot).collect()
      })), 180.seconds)
    val nLive = operators.AnnIndex.driftStats(spark, annRoot)
      .agg(sum(col("n_live"))).collect()(0).getLong(0)
    assert(nLive == 121L, s"expected 121 live vectors after racing upserts, got $nLive")
  }

  test("unimax waterfill: small languages cap at E epochs, the rest split the remainder exactly") {
    // counts a=10 b=20 c=100, E=2, B=(8·130)//5=208; caps 20/40/200 (Σ=260>208)
    // k*=2 (a,b fully capped), t=(208−60)/1=148 → c gets 148 = 1.48 epochs; Σalloc=B
    import spark.implicits._
    val docs = Seq(
      ("a", Seq.fill(10)("t").mkString(" ")),
      ("b", Seq.fill(20)("t").mkString(" ")),
      ("c", Seq.fill(100)("t").mkString(" "))).toDF("lang", "body")
    val out = Graft.text.unimaxBudgets(docs, "lang", "body")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(out.toSeq == Seq(
      ("a", 10L, 20L, 20.0, 2.0),
      ("b", 20L, 40L, 40.0, 2.0),
      ("c", 100L, 200L, 148.0, 1.48)))
  }

  test("unimax: budget covering all caps fully allocates every language at E epochs") {
    import spark.implicits._
    val docs = Seq(("a", "t t"), ("b", "t t t t")).toDF("lang", "body")
    // S=6, B=(8·6)//5=9 ≥ Σcaps... caps are 4 and 8 (Σ=12>9): k*=1, t=(9−4)/1=5
    val out = Graft.text.unimaxBudgets(docs, "lang", "body")
      .collect().map(r => (r.getString(0), r.getDouble(3)))
    assert(out.toSeq == Seq(("a", 4.0), ("b", 5.0)))
    // and with a generous budget (bNum/bDen = 3/1 → B=18 ≥ 12) everyone caps
    val full = Graft.text.unimaxBudgets(docs, "lang", "body", bNum = 3L, bDen = 1L)
      .collect().map(r => (r.getString(0), r.getDouble(3), r.getDouble(4)))
    assert(full.toSeq == Seq(("a", 4.0, 2.0), ("b", 8.0, 2.0)))
  }

  test("p13: unimax-enforced sampler stays within every language budget; capped languages keep their whole corpus") {
    val out = Sampling.queries("p13_unimax_sample")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.nonEmpty)
    // never over budget
    out.values.foreach { case (_, kept, budget) => assert(kept <= budget) }
    // a language whose budget covers its whole corpus (the E-epoch
    // capped ones: budget = 2·c ≥ c) must keep every document
    val totals = Tables.documents(spark, sf)
      .select(col("lang"),
        size(filter(split(regexp_replace(lower(coalesce(col("text"), lit(""))),
          "[\\p{Punct} ]+", " "), " "), t => t =!= "")).cast("long").as("ntok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("nd"), sum(col("ntok")).as("nt"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    totals.foreach { case (lang, (nd, nt)) =>
      val (kept, tokens, budget) = out(lang)
      if (budget >= nt) assert(kept == nd && tokens == nt, s"$lang under-sampled")
    }
  }

  test("p16: temperature sampler stays within budget; sqrt weights boost the tail language's share") {
    val out = Sampling.queries("p16_temperature_sample")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.nonEmpty)
    out.values.foreach { case (_, kept, budget) =>
      assert(kept <= budget, s"kept $kept over budget $budget") }
    val totals = Tables.documents(spark, sf)
      .select(col("lang"),
        size(filter(split(regexp_replace(lower(coalesce(col("text"), lit(""))),
          "[\\p{Punct} ]+", " "), " "), t => t =!= "")).cast("long").as("ntok"))
      .groupBy(col("lang")).agg(sum(col("ntok")).as("nt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the budget envelope holds: Σ budgets ≤ B = 2/5 of total tokens
    val ctot = totals.values.sum
    assert(out.values.map(_._3).sum <= ctot * 2 / 5)
    // flattening law, exact integers: budget ∝ sqrt(c), so the
    // smallest language's budget SHARE strictly exceeds the largest's
    // scaled by the raw ratio — budget_min·c_max > budget_max·c_min
    val minLang = totals.minBy(_._2)._1
    val maxLang = totals.maxBy(_._2)._1
    assert(out(minLang)._3 * totals(maxLang) > out(maxLang)._3 * totals(minLang),
      s"no tail boost: $out vs $totals")
  }

  test("bm25 oracle query: 20 ranked rows, totals = sum of per-term parts, scores positive") {
    val out = TextAnalysis.queries("t_bm25")(spark, sf).collect()
    assert(out.length == 20)
    out.foreach { r =>
      val (sv, sh, ss, tot) = (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(math.abs(sv + sh + ss - tot) < 2e-6 && tot > 0.0)
    }
    // ranked: descending totals with doc_id tiebreak
    out.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getDouble(4) > b.getDouble(4) ||
          (a.getDouble(4) == b.getDouble(4) && a.getLong(0) < b.getLong(0)))
      case _ => ()
    }
  }

  test("centroids: one row per (label, dim); counts consistent; centroids inside value range") {
    val out = Similarity.queries("s_centroids")(spark, sf)
    val labels = Tables.embeddings(spark, sf).select("label").distinct().count()
    assert(out.count() == labels * 64)
    assert(out.groupBy("label", "dim").count().filter(col("count") > 1).count() == 0)
    // per label, n_vectors is the same for every dim and sums to the table size
    val perLabel = out.groupBy("label").agg(countDistinct("n_vectors").as("k"),
      max("n_vectors").as("n"))
    assert(perLabel.filter(col("k") =!= 1).count() == 0)
    assert(perLabel.agg(sum("n")).collect()(0).getLong(0)
      == Tables.embeddings(spark, sf).count())
  }

  test("p11_split: exhaustive, unique, band-consistent, and re-run-stable") {
    val out = Sampling.queries("p11_split")(spark, sf)
    val n = Tables.documents(spark, sf).count()
    assert(out.count() == n)
    assert(out.select("doc_id").distinct().count() == n)
    assert(out.filter(col("split") === "train" && col("split_band") >= 90).count() == 0)
    assert(out.filter(col("split") === "validation"
      && (col("split_band") < 90 || col("split_band") >= 95)).count() == 0)
    assert(out.filter(col("split") === "test" && col("split_band") < 95).count() == 0)
    val again = Sampling.queries("p11_split")(spark, sf)
    assert(out.exceptAll(again).count() == 0)
  }

  test("p15_group_split: no near-dup cluster straddles splits; exhaustive and p11-band-consistent") {
    val out = Sampling.queries("p15_group_split")(spark, sf)
    val n = Tables.documents(spark, sf).count()
    assert(out.count() == n)
    // THE leakage-guard law: every cluster maps to exactly one split —
    // so in particular every near-dup pair shares a split
    assert(out.groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("k"))
      .filter(col("k") =!= 1).count() == 0)
    // band arithmetic identical to p11's
    assert(out.filter(col("split") === "train" && col("split_band") >= 90).count() == 0)
    assert(out.filter(col("split") === "validation"
      && (col("split_band") < 90 || col("split_band") >= 95)).count() == 0)
    assert(out.filter(col("split") === "test" && col("split_band") < 95).count() == 0)
    // and the guard is not vacuous on this corpus: some cluster with
    // ≥ 2 members exists (would-be straddle candidates)
    assert(out.groupBy("cluster_id").count().filter(col("count") > 1).count() > 0)
  }

  test("p12 token budget: greedy prefix respects the budget exactly, per stratum") {
    import spark.implicits._
    // every doc is exactly 5 tokens → a 12-token budget keeps exactly
    // 2 docs per stratum (10 ≤ 12; a third would be 15), whatever the
    // hash order picks
    val docs = (0L until 8L).map(i =>
        (i, s"stratum${i % 2}", s"five tokens in doc $i"))
      .toDF("doc_id", "source", "text")
    val out = Graft.sampling.tokenBudgetPerStratum(docs, "source", "text",
      "doc_id", budget = 12L)
    assert(out.count() == 4)
    assert(out.groupBy("source").count().collect().forall(_.getLong(1) == 2))
    assert(out.agg(max("cum_tokens")).head().getLong(0) == 10L)
    // re-run stability: the deterministic hash order picks the same docs
    val again = Graft.sampling.tokenBudgetPerStratum(docs, "source", "text",
      "doc_id", budget = 12L)
    assert(out.exceptAll(again).count() == 0)
    // NULL text must not decrement the running budget (size(split(null))
    // is -1 in non-ANSI Spark) and re-admit docs past the cutoff
    val withNull = docs.unionByName(
      Seq((99L, "stratum0", Option.empty[String])).toDF("doc_id", "source", "text"))
    val outN = Graft.sampling.tokenBudgetPerStratum(withNull, "source", "text",
      "doc_id", budget = 12L)
    assert(outN.filter(col("n_tokens") < 0L).count() == 0)
    assert(outN.filter(col("source") === "stratum0" && col("doc_id") < 90L).count() <= 2)
    // harness binding: no stratum exceeds the fixture budget
    val harness = Sampling.queries("p12_token_budget")(spark, sf)
    assert(harness.filter(col("cum_tokens") > 1000L).count() == 0)
    assert(harness.count() < Tables.documents(spark, sf).count()) // cutoff fires
  }

  test("corpus compaction: micro-segments fold into one, ledger + snapshots + ranged sidecars survive, big segments are carried by reference") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_corpus_cmp").toString + "/c"
    def doc(i: Long) = (i, s"doc body $i", "en", "web", 10 + i)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    sources.CorpusStore.create((1L to 3L).map(doc).toDF(cols: _*), root)             // v1 seg-0
    sources.CorpusStore.append((4L to 5L).map(doc).toDF(cols: _*), root, Some("b1")) // v2 seg-1
    sources.CorpusStore.append((6L to 8L).map(doc).toDF(cols: _*), root, Some("b2")) // v3 seg-2
    val vPre = sources.CorpusStore.snapshots(spark, root).max
    val pinRows = Graft.corpus.asOf(spark, root, 2L).orderBy("doc_id").collect().toSeq
    val acct = Graft.corpus.compact(spark, root).collect()(0)
    assert(acct.getAs[Long]("segs_folded") == 3L && acct.getAs[Long]("n_docs") == 8L)
    assert(acct.getAs[Long]("v_after") == vPre + 1)
    // doc-level transparency across the boundary
    assert(sources.CorpusStore.snapshotDiff(spark, root, vPre, vPre + 1).isEmpty)
    // the ledger survives the republish — a crash replay still skips
    assert(sources.CorpusStore.batchApplied(spark, root, "b1"))
    assert(sources.CorpusStore.batchApplied(spark, root, "b2"))
    // a pre-compaction snapshot still replays byte-identically
    assert(Graft.corpus.asOf(spark, root, 2L).orderBy("doc_id").collect().toSeq
      == pinRows)
    // read fan-out really shrank: the live read lists ONE segment
    val files = Graft.corpus.read(spark, root).inputFiles
    assert(files.nonEmpty && files.forall(_.contains("/seg-3/")), files.mkString(","))
    // the folded segment has working meta: stats and ranged reads serve
    assert(Graft.corpus.statsAsOf(spark, root, vPre + 1)
      .collect()(0).getLong(1) == 8L)
    assert(Graft.corpus.readRanged(spark, root, 4L, 6L).count() == 3L)
    // a single surviving segment is nothing to fold: no-op, no publish
    val acct2 = Graft.corpus.compact(spark, root).collect()(0)
    assert(acct2.getAs[Long]("segs_folded") == 0L &&
      acct2.getAs[Long]("v_after") == acct2.getAs[Long]("v_before"))
    // a BIG settled segment is never rewritten: grow a genuinely big
    // segment (long texts), stream two small ones after it, and compact
    // with a threshold between the sizes — only the small tail folds
    def bigDoc(i: Long) = (i, ("body " * 2000) + i, "en", "web", 10 + i)
    sources.CorpusStore.append((100L to 160L).map(bigDoc).toDF(cols: _*), root) // seg-4
    sources.CorpusStore.append((9L to 10L).map(doc).toDF(cols: _*), root)       // seg-5
    sources.CorpusStore.append((11L to 12L).map(doc).toDF(cols: _*), root)      // seg-6
    val fsc = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sizeOfBig = fsc.getContentSummary(
      new org.apache.hadoop.fs.Path(s"$root/seg-4")).getLength
    // the POLICY loop: 3 small segments sit within a budget of 8 → None
    assert(Graft.corpus.compactIfFragmented(spark, root,
      maxSmallSegments = 8, smallSegBytes = sizeOfBig / 2).isEmpty)
    // …and over a budget of 2 it compacts exactly the small tail:
    // seg-3 (8 tiny docs), seg-5, seg-6 fold; seg-4 carried by reference
    val acct3 = Graft.corpus.compactIfFragmented(spark, root,
      maxSmallSegments = 2, smallSegBytes = sizeOfBig / 2).get.collect()(0)
    assert(acct3.getAs[Long]("segs_folded") == 3L, acct3.toString)
    val segsNow = Graft.corpus.read(spark, root).inputFiles
      .map(_.split("/").takeRight(2)(0)).distinct.sorted
    assert(segsNow.contains("seg-4") && segsNow.length == 2, segsNow.mkString(","))
  }

  test("ranged corpus read: manifest-level skipping lists only intersecting segments; sidecar-less segments read conservatively") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_corpus_rng").toString + "/c"
    def doc(i: Long) = (i, s"doc body $i", "en", "web", 10 + i)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    sources.CorpusStore.create((0L to 99L).map(doc).toDF(cols: _*), root)     // seg-0
    sources.CorpusStore.append((100L to 199L).map(doc).toDF(cols: _*), root)  // seg-1
    sources.CorpusStore.append((200L to 299L).map(doc).toDF(cols: _*), root)  // seg-2
    // PLAN PIN: the ranged read's file index holds ONLY the matching
    // segment — manifest-level skipping before Spark sees a path
    val ranged = Graft.corpus.readRanged(spark, root, 120L, 150L)
    assert(ranged.inputFiles.nonEmpty &&
      ranged.inputFiles.forall(_.contains("/seg-1/")),
      ranged.inputFiles.mkString(","))
    assert(ranged.count() == 31L)
    // spanning two segments lists exactly those two
    val ranged2 = Graft.corpus.readRanged(spark, root, 90L, 110L)
    val segs2 = ranged2.inputFiles.map(_.split("/").takeRight(2)(0)).distinct.sorted
    assert(segs2.toSeq == Seq("seg-0", "seg-1"), segs2.mkString(","))
    assert(ranged2.count() == 21L)
    // no segment matches → empty result (served off a pruned plan)
    assert(Graft.corpus.readRanged(spark, root, 5000L, 6000L).count() == 0L)
    // a sidecar-less segment (pre-sidecar store) is read conservatively:
    // delete seg-2's ranges sidecar; a range outside it still answers
    // correctly WITH seg-2 listed (no skip evidence → no skip)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/_ranges/seg-2"), true)
    val ranged3 = Graft.corpus.readRanged(spark, root, 120L, 150L)
    val segs3 = ranged3.inputFiles.map(_.split("/").takeRight(2)(0)).distinct.sorted
    assert(segs3.toSeq == Seq("seg-1", "seg-2"), segs3.mkString(","))
    assert(ranged3.count() == 31L)
  }

  test("pin registry: pinned versions survive a zero-grace sweep on all three surfaces and replay byte-identically; unpin + sweep reclaims; rollback refuses pinned suffixes") {
    import spark.implicits._
    val cRoot = java.nio.file.Files.createTempDirectory("graft_pins_c").toString + "/c"
    val tRoot = java.nio.file.Files.createTempDirectory("graft_pins_t").toString
    val aRoot = java.nio.file.Files.createTempDirectory("graft_pins_a").toString
    def doc(i: Long) = (i, s"vector doc body $i", "en", "web", 10 + i)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val terms = Seq("vector", "hash")
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 60)

    // v1 on each surface, then a mutation so v1 is NOT current
    sources.CorpusStore.create((1L to 5L).map(doc).toDF(cols: _*), cRoot)
    operators.TextIndex.build(
      (1L to 5L).map(i => (i, s"vector hash doc $i")).toDF("doc_id", "text"), tRoot)
    operators.AnnIndex.build(emb, aRoot)
    val cV = sources.CorpusStore.snapshots(spark, cRoot).max
    val tV = operators.TextIndex.snapshots(spark, tRoot).max
    val aV = operators.AnnIndex.snapshots(spark, aRoot).max
    sources.CorpusStore.append(Seq(doc(6L)).toDF(cols: _*), cRoot)
    operators.TextIndex.upsert(
      Seq((6L, "hash later doc")).toDF("doc_id", "text"), tRoot)
    operators.AnnIndex.delete(Seq(3L).toDF("vec_id"), aRoot)

    // the pinned replays, captured before any sweep
    val cPinned = Graft.corpus.asOf(spark, cRoot, cV).orderBy("doc_id").collect().toSeq
    val tPinned = Graft.text.bm25TopkAt(spark, tRoot, terms, 10, asOf = Some(tV))
      .collect().toSeq
    val qv = emb.filter(col("vec_id") === 3L).select("embedding")
      .as[Array[Float]].collect()(0)
    val aPinned = operators.AnnIndex.probe(spark, aRoot, qv, nprobe = 8, k = 10,
      asOf = Some(aV)).collect().toSeq

    Graft.corpus.pin(spark, cRoot, "run-42", cV)
    Graft.text.bm25Pin(spark, tRoot, "run-42", tV)
    Graft.ann.pin(spark, aRoot, "run-42", aV)
    assert(Graft.corpus.pins(spark, cRoot) == Map("run-42" -> cV))

    // a zero-grace sweep — everything past retention — keeps the pins
    Graft.corpus.sweep(spark, cRoot, graceMs = -1L)
    operators.TextIndex.sweepUnreferenced(spark, tRoot, graceMs = -1L)
    operators.AnnIndex.sweepUnreferenced(spark, aRoot, graceMs = -1L)
    assert(Graft.corpus.asOf(spark, cRoot, cV).orderBy("doc_id").collect().toSeq
      == cPinned)
    assert(Graft.text.bm25TopkAt(spark, tRoot, terms, 10, asOf = Some(tV))
      .collect().toSeq == tPinned)
    assert(operators.AnnIndex.probe(spark, aRoot, qv, nprobe = 8, k = 10,
      asOf = Some(aV)).collect().toSeq == aPinned)

    // rollback below a pinned version refuses until unpinned — a
    // registered run's replay can't be destroyed in one step
    // (corpus current is cV+1; rolling to cV would drop... nothing
    // pinned; pin the CURRENT-1 and roll below it instead)
    intercept[IllegalArgumentException] {
      sources.CorpusStore.rollbackTo(spark, cRoot, cV - 1)
    }

    // unpin + sweep reclaims: the snapshot expires and replay fails loudly
    Graft.corpus.unpin(spark, cRoot, "run-42")
    Graft.text.bm25Unpin(spark, tRoot, "run-42")
    Graft.ann.unpin(spark, aRoot, "run-42")
    Graft.corpus.sweep(spark, cRoot, graceMs = -1L)
    operators.TextIndex.sweepUnreferenced(spark, tRoot, graceMs = -1L)
    operators.AnnIndex.sweepUnreferenced(spark, aRoot, graceMs = -1L)
    intercept[IllegalArgumentException] { Graft.corpus.asOf(spark, cRoot, cV) }
    intercept[IllegalArgumentException] {
      Graft.text.bm25TopkAt(spark, tRoot, terms, 10, asOf = Some(tV)).collect()
    }
    // pinning an already-swept version fails loudly at pin time
    intercept[IllegalArgumentException] {
      Graft.corpus.pin(spark, cRoot, "too-late", cV)
    }
  }

  test("champion-list head tier: a non-binding budget returns the exact answer; binding budgets keep exact scores and are gated by the recall panel") {
    import spark.implicits._
    // find a RARE term (0 < df <= HeadB) and a HEAVY one (df > HeadB)
    // from the corpus itself, so the law tracks the fixture
    val byDoc = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(Graft.text.tokens(col("text"))).as("t"))
      .filter(col("t") =!= "").distinct()
      .groupBy("t").agg(count(lit(1)).as("df"))
    val rare = byDoc.filter(col("df") > 0 && col("df") <= 64)
      .orderBy(col("df").desc, col("t")).limit(1)
      .collect().headOption.map(_.getString(0))
    val heavy = byDoc.filter(col("df") > operators.TextIndex.HeadB)
      .orderBy(col("df").desc, col("t")).limit(1)
      .collect()(0).getString(0)
    // LAW 1 (the ANN budget's fixture-parity property): when no term's
    // df exceeds the budget, the head probe IS the exact probe
    rare.foreach { t =>
      val head = operators.TextIndex.bm25TopkHead(spark, sf, Seq(t), 10)
        .collect().toSeq
      val exact = operators.TextIndex.bm25TopkIndexed(spark, sf, Seq(t), 10)
        .collect().toSeq
      assert(head == exact, s"non-binding budget diverged on '$t'")
    }
    // LAW 2: under a BINDING budget, every returned (doc, score) pair
    // still matches the exact probe's score for that doc — the budget
    // narrows membership, never the arithmetic (global df/stats)
    val head = operators.TextIndex.bm25TopkHead(spark, sf, Seq(heavy), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val exactAll = operators.TextIndex
      .bm25TopkIndexed(spark, sf, Seq(heavy), 10000)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(head.nonEmpty && head.forall { case (d, s) => exactAll(d) == s })
    // LAW 3: the recall panel is well-formed — n_hits within [0, k],
    // recall = n_hits/k, and the single-term panel query is EXACT
    // (one term ⇒ score order == impact order ⇒ champions contain the
    // true top-k whenever k ≤ HeadB)
    val panel = operators.TextIndex.queries("t_bm25_head_recall")(spark, sf)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(panel.values.forall { case (h, r) => h >= 0 && h <= 10 && r == h / 10.0 })
    assert(panel(3L) == ((10L, 1.0)), panel.toString) // query 3 = single-term
  }

  test("text index format stamp: a pre-v4 (unstamped) root read with this library errors with a rebuild hint instead of scoring nulls") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_text_fmt").toString
    operators.TextIndex.build(
      Seq((1L, "vector alpha")).toDF("doc_id", "text"), root)
    // the stamp is written on every publish…
    assert(Graft.text.bm25TopkAt(spark, root, Seq("vector"), 5).count() == 1L)
    // …simulate a pre-v4 root: strip the format line from the live
    // manifest; every explicit-root read must now fail loudly
    val p = java.nio.file.Paths.get(root, "_GRAFT_TEXT_MANIFEST")
    val stripped = java.nio.file.Files.readAllLines(p).toArray.map(_.toString)
      .filterNot(_.startsWith("format:")).mkString("\n")
    // the local Hadoop FS keeps a sidecar checksum; drop it so the
    // hand-edited (simulated legacy) manifest reads cleanly
    def rewrite(content: String): Unit = {
      java.nio.file.Files.writeString(p, content)
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(root, "._GRAFT_TEXT_MANIFEST.crc")); ()
    }
    rewrite(stripped)
    val e = intercept[IllegalArgumentException] {
      Graft.text.bm25TopkAt(spark, root, Seq("vector"), 5).count()
    }
    assert(e.getMessage.contains("format") && e.getMessage.contains("rebuild"),
      e.getMessage)
    // a WRONG stamp (not just a missing one) also refuses
    rewrite("format:3\n" + stripped)
    intercept[IllegalArgumentException] {
      Graft.text.bm25TopkAt(spark, root, Seq("vector"), 5).count()
    }
  }

}
