package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STORED exact-phrase index — the serving twin of
  * [[Retrieval.phraseSearch]], which re-materializes every n-token
  * window of the whole corpus per query batch. That per-batch pass is
  * the honest baseline but cannot survive 100 TB (the round-8 verdict's
  * top gap): like BM25's stored index, the corpus must be tokenized
  * ONCE per index build, and every query batch after that must touch
  * only the store.
  *
  * The index is windows-as-terms made durable: for each phrase length n
  * the tier serves (declared at build — the classic next-word-index
  * trade, cf. Williams, Zobel & Bahle 2004, "Fast phrase querying with
  * combined indexes"), every n-token window of every doc is
  * pre-aggregated to one posting row (window-string, n, doc,
  * occurrence-count, first-position) and stored bucketed BY WINDOW.
  * Serving a phrase batch is then ONE broadcast probe into the postings
  * — no window re-extraction, no posting-list intersection chain, cost
  * independent of phrase length — followed by the partial TopK, so a
  * phrase matching half the corpus still shuffles queries×k rows.
  * The reference pushes exactly this operation to its search backend as
  * `match_phrase` clauses inside bool queries
  * (DatabaseConverter/api_clients.py:677-728); here the index IS ours,
  * so the maintenance cycle comes with it.
  *
  * Maintenance is the shared [[IndexStore]] lifecycle:
  * generation-stamped appends, tombstones with an enforced broadcast
  * bound, upsert = tombstone-then-append, atomic compaction. Ranking
  * needs no corpus statistics (occurrence count is per-doc), so the
  * 1-row `meta` member carries just the append generation and the
  * indexed lengths.
  *
  * Storage cost: Σ_n (tokens − n + 1) window rows before per-doc
  * aggregation — the standard positional-index multiple of the text. At
  * 100 TB the lengths list is the knob: index 2..3 and serve longer
  * phrases by probing their length-3 prefix then verifying, or widen
  * the list for a phrase-heavy tier.
  */
object PhraseIndex {

  private val store = new IndexStore("phrase", "phr", "w", Seq("meta"))

  /** One posting row per (doc, window-string, length): every n-token
    * window for each n in `lengths`, emitted IN-ROW (transform over
    * sequence — no window function, amplification = tokens × |lengths|)
    * and pre-aggregated per doc map-side. One shuffle, keyed by the
    * window string the probe will hit. */
  def windowPostings(docs: DataFrame, idCol: String, textCol: String,
      lengths: Seq[Int]): DataFrame = {
    require(lengths.nonEmpty && lengths.forall(_ >= 1),
      s"phrase lengths must be >= 1: $lengths")
    val toks = docs.select(col(idCol),
      TextAnalysis.rawTokens(col(textCol)).as("t"))
    lengths.distinct.sorted.map { n =>
      toks.filter(size(col("t")) >= n)
        .select(col(idCol), explode(expr(
          s"""transform(sequence(1, size(t) - ${n - 1}),
              i -> struct(i - 1 AS pos, array_join(slice(t, i, $n), ' ') AS w))"""))
          .as("x"))
        .select(col(idCol), col("x.w").as("w"), lit(n).as("wlen"),
          col("x.pos").as("pos"))
    }.reduce(_ unionByName _)
      .groupBy(col(idCol), col("w"), col("wlen"))
      .agg(count(lit(1)).as("n_hits"),
        min("pos").cast("long").as("first_pos"))
  }

  /** Recover the catalog entries from the newest committed version —
    * the fresh-session / post-crash entry point ([[IndexStore.open]]). */
  def openIndex(spark: SparkSession, tag: String, buckets: Int = 8): Unit =
    store.open(spark, tag, buckets)

  private def writeMeta(spark: SparkSession, tag: String, gen: Long,
      lengths: Seq[Int], v: Long): Unit = {
    import spark.implicits._
    IndexStore.stagePlain(
      Seq((gen, lengths.distinct.sorted.mkString(",")))
        .toDF("gen", "lens"),
      store.dir(tag, "meta", v))
  }

  /** Overwrite the live version's meta row in place (appends and the
    * repair; covered by [[repairMeta]]). */
  private def rewriteMeta(spark: SparkSession, tag: String, gen: Long,
      lengths: Seq[Int]): Unit = {
    writeMeta(spark, tag, gen, lengths, store.version(spark, tag))
    spark.catalog.refreshTable(store.table(tag, "meta"))
  }

  private def readMeta(spark: SparkSession, tag: String): (Long, Seq[Int]) = {
    val r = spark.table(store.table(tag, "meta")).collect().head
    (r.getLong(0),
      r.getString(1).split(",").filter(_.nonEmpty).map(_.toInt).toSeq)
  }

  /** Build the stored phrase index once per (tag, geometry): window
    * postings for the declared lengths at generation 0 and the 1-row
    * meta, staged with the lifecycle members as one version. The ONLY
    * place the corpus is read. */
  def buildPhraseIndex(spark: SparkSession, docs: => DataFrame,
      idCol: String, textCol: String, tag: String, lengths: Seq[Int],
      buckets: Int = 8): Unit =
    store.build(spark, tag, s"$buckets", buckets, idCol, docs) { (v, d) =>
      writeMeta(spark, tag, 0L, lengths, v)
      windowPostings(d, idCol, textCol, lengths).withColumn("gen", lit(0L))
    }

  /** ALL phrase matches per query from the store, un-ranked: one row
    * per (query_id, doc) with the occurrence count and first position.
    * This is the probe [[servePhrases]] ranks and the candidate set
    * [[Retrieval.phraseRankedTopK]] intersects with BM25 scoring.
    * Fails fast on a phrase whose length the index does not carry. */
  def phraseMatches(spark: SparkSession, idCol: String,
      phrases: Seq[(Long, String)], tag: String): DataFrame = {
    import spark.implicits._
    val norm = phrases.map { case (qid, p) =>
      (qid, p.toLowerCase.trim.split("\\s+").toSeq) }
    require(norm.forall(_._2.forall(_.nonEmpty)),
      "empty or whitespace-only phrase")
    val (_, lens) = readMeta(spark, tag)
    val missing = norm.map(_._2.length).distinct.filterNot(lens.contains)
    require(missing.isEmpty,
      s"index '$tag' carries lengths $lens; batch needs $missing")
    val pdf = norm.map { case (q, ts) => (q, ts.mkString(" "), ts.length) }
      .toDF("query_id", "phrase", "plen")
    val post = store.live(spark, tag)
    post
      .join(broadcast(pdf),
        post("w") === pdf("phrase") && post("wlen") === pdf("plen"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum("n_hits").as("n_hits"), min("first_pos").as("first_pos"))
  }

  /** Serve a phrase batch purely from the store: normalize exactly like
    * [[Retrieval.phraseSearch]], probe the live postings with the
    * broadcast batch, merge per doc across generations, partial TopK.
    * Output schema and ranking (n_hits DESC, doc_id) are identical to
    * the per-batch rebuild — that equality is the stored-index
    * contract, hash-checked by the txt_phrase_stored oracle. */
  def servePhrases(spark: SparkSession, idCol: String,
      phrases: Seq[(Long, String)], k: Int, tag: String): DataFrame =
    rankHits(phraseMatches(spark, idCol, phrases, tag), idCol, k)

  /** Rank a (query_id, doc, n_hits, first_pos) hit frame: partial TopK
    * by occurrence count (ties → lower doc id), counts/anchor
    * re-attached by a k×queries join. */
  private def rankHits(hits: DataFrame, idCol: String, k: Int): DataFrame = {
    val topk = TopK.topK(k)
    val ranked = hits.groupBy("query_id")
      .agg(topk(col("n_hits").cast("double"), col(idCol)).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as(idCol))
    ranked.join(hits, Seq("query_id", idCol))
      .select(col("query_id"), col("rank"), col(idCol),
        col("n_hits").cast("long").as("n_hits"),
        col("first_pos").cast("long").as("first_pos"))
  }

  /** [[phraseMatches]] generalized to phrases LONGER than the indexed
    * lengths — the declared-lengths trade's other half (the object doc
    * names it; Williams, Zobel & Bahle 2004's combined-index strategy):
    * a long phrase probes the stored postings of its longest-indexed
    * PREFIX — a guaranteed-recall candidate set, since any doc
    * containing the phrase contains the prefix — and the full phrase is
    * then VERIFIED by re-extracting its length's windows over ONLY the
    * candidate documents: `docs` pruned by a broadcast semi-join before
    * any tokenization, so the verify cost is ∝ candidate docs, never
    * the corpus. Phrases whose length IS indexed stay pure stored
    * probes and never force `docs`. Candidate superset across queries
    * is safe: a doc matching one query's full phrase is by construction
    * a candidate for that query.
    *
    * The verify step trusts `docs` to BE the corpus the index serves
    * (same contract as the oracle): index-deleted docs can't become
    * candidates (their prefix postings are tombstoned), so the pruned
    * scan never resurrects them. */
  def phraseMatchesWithFallback(spark: SparkSession, docs: => DataFrame,
      idCol: String, textCol: String, phrases: Seq[(Long, String)],
      tag: String): DataFrame = {
    import spark.implicits._
    val norm = phrases.map { case (qid, p) =>
      (qid, p, p.toLowerCase.trim.split("\\s+").toSeq) }
    require(norm.forall(_._3.forall(_.nonEmpty)),
      "empty or whitespace-only phrase")
    val (_, lens) = readMeta(spark, tag)
    val (direct, long) = norm.partition(t => lens.contains(t._3.length))
    long.foreach { case (_, p, ts) =>
      require(lens.exists(_ < ts.length),
        s"phrase '$p' (${ts.length} tokens) is shorter than every indexed " +
          s"length $lens — no prefix to probe") }
    val parts = Seq(
      if (direct.isEmpty) None
      else Some(phraseMatches(spark, idCol,
        direct.map { case (q, p, _) => (q, p) }, tag)),
      if (long.isEmpty) None
      else {
        val longDf = long.map { case (q, _, ts) =>
          val pref = lens.filter(_ < ts.length).max
          (q, ts.mkString(" "), ts.length,
            ts.take(pref).mkString(" "), pref)
        }.toDF("query_id", "phrase", "plen", "prefix", "preflen")
        val post = store.live(spark, tag)
        val cand = post
          .join(broadcast(longDf),
            post("w") === longDf("prefix") && post("wlen") === longDf("preflen"))
          .select(col(idCol)).distinct()
        val wins = windowPostings(docs.join(broadcast(cand), Seq(idCol),
            "left_semi"), idCol, textCol, long.map(_._3.length).distinct)
        Some(wins
          .join(broadcast(longDf.select("query_id", "phrase", "plen")),
            wins("w") === col("phrase") && wins("wlen") === col("plen"))
          .groupBy(col("query_id"), col(idCol))
          .agg(sum("n_hits").as("n_hits"), min("first_pos").as("first_pos")))
      }).flatten
    parts.reduce(_ unionByName _)
  }

  /** [[servePhrases]] for mixed batches: indexed lengths serve from the
    * store alone; longer phrases take the prefix-probe + verify path.
    * Same output schema and ranking as the from-scratch
    * [[Retrieval.phraseSearch]] — the txt_phrase_long oracle pins it. */
  def servePhrasesWithFallback(spark: SparkSession, docs: => DataFrame,
      idCol: String, textCol: String, phrases: Seq[(Long, String)],
      k: Int, tag: String): DataFrame =
    rankHits(phraseMatchesWithFallback(spark, docs, idCol, textCol,
      phrases, tag), idCol, k)

  /** Build-once / serve-many wrapper (the [[Retrieval.bm25TopKStored]]
    * shape): after the first call the `docs` thunk is never forced
    * again. */
  def phraseTopKStored(spark: SparkSession, docs: => DataFrame,
      idCol: String, textCol: String, phrases: Seq[(Long, String)],
      k: Int, tag: String, lengths: Seq[Int] = Seq(2, 3),
      buckets: Int = 8): DataFrame = {
    buildPhraseIndex(spark, docs, idCol, textCol, tag, lengths, buckets)
    servePhrases(spark, idCol, phrases, k, tag)
  }

  /** Ingest a document batch: append its window postings at the next
    * generation. Same crash contract as BM25's append — postings, then
    * ids, then the 1-row meta (gen counter); [[repairMeta]] restates a
    * stale counter from the postings on recovery. Caller contract: a
    * doc id is appended at most once per live generation
    * ([[upsertIntoPhraseIndex]] is the re-add path). */
  def appendToPhraseIndex(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, tag: String,
      buckets: Int = 8): Unit = {
    store.requireOpen(spark, tag)
    // writer lock across the gen derivation + postings/ids/meta writes
    // (racing appenders would share a generation; an append racing a
    // compaction's commit would write into the version being retired)
    store.withLock(spark, tag) {
      val (gen, lens) = readMeta(spark, tag)
      // clear the stored counter AND every tombstone — a stale counter
      // after an append crash must not land a delete→re-add at its own
      // tombstone's generation (see Retrieval.appendToIndex)
      val next = math.max(gen, store.tombMax(spark, tag)) + 1
      val b = batch.cache()
      store.appendPostings(spark, tag,
        windowPostings(b, idCol, textCol, lens).withColumn("gen", lit(next)),
        buckets)
      store.appendIds(spark, tag, b.select(col(idCol)))
      b.unpersist()
      rewriteMeta(spark, tag, next, lens)
    }
  }

  /** The known-ids frame the ingest guard anti-joins against — the
    * compact id list, never the (doc × window) postings. */
  private[graft] def knownIds(spark: SparkSession, tag: String): DataFrame =
    store.knownIds(spark, tag)

  /** Restate the known-ids list after an append crash
    * ([[IndexStore.repairKnownIds]]); [[openIndex]] runs it. */
  def repairKnownIds(spark: SparkSession, tag: String): Boolean =
    store.repairKnownIds(spark, tag)

  /** [[appendToPhraseIndex]] made REDELIVERY-PROOF — the foreachBatch
    * body for a live phrase-indexing stream ([[IndexStore.ingestNew]]). */
  def ingestNewDocs(spark: SparkSession, batch: DataFrame, idCol: String,
      textCol: String, tag: String, buckets: Int = 8): Unit =
    store.ingestNew(spark, tag, batch, idCol)(
      appendToPhraseIndex(spark, _, idCol, textCol, tag, buckets))

  /** Restate the meta generation counter from the stored truth (max
    * postings gen ∪ max tombstone gen) after a crash between the two
    * append writes. Returns true when a repair was needed. */
  def repairMeta(spark: SparkSession, tag: String): Boolean = {
    val maxPost = spark.table(store.table(tag, "post"))
      .agg(coalesce(max("gen"), lit(0L))).collect().head.getLong(0)
    val want = math.max(maxPost, store.tombMax(spark, tag))
    val (cur, lens) = readMeta(spark, tag)
    val drifted = cur != want
    if (drifted) rewriteMeta(spark, tag, want, lens)
    drifted
  }

  /** Retract docs: one tombstone (id, upto_gen) per currently-live doc
    * ([[IndexStore.delete]]); double deletes are no-ops, and the table
    * auto-compacts past `maxTombstones`. */
  def deleteFromPhraseIndex(spark: SparkSession, ids: DataFrame,
      idCol: String, tag: String,
      maxTombstones: Long = IndexStore.DefaultMaxTombstones,
      buckets: Int = 8): Unit =
    store.delete(spark, tag, ids, idCol, maxTombstones)(
      compactPhraseIndex(spark, tag, idCol, buckets))

  /** Delete-then-append on the doc id — the phrase-index half of an
    * upsert (run it alongside [[Retrieval.upsertIntoIndex]] to keep a
    * BM25+phrase tier consistent). */
  def upsertIntoPhraseIndex(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, tag: String,
      buckets: Int = 8): Unit =
    store.upsert(spark, tag, batch, idCol,
      compactPhraseIndex(spark, tag, idCol, buckets))(
      appendToPhraseIndex(spark, _, idCol, textCol, tag, buckets))

  /** Atomic compaction ([[IndexStore.compact]]): tombstones folded into
    * version N+1's postings, meta carried over. Returns (filesBefore,
    * filesAfter) for the postings store. */
  def compactPhraseIndex(spark: SparkSession, tag: String, idCol: String,
      buckets: Int = 8): (Int, Int) =
    store.compact(spark, tag, buckets)(compactStage(spark, tag, idCol, buckets))

  private[graft] def compactStage(spark: SparkSession, tag: String,
      idCol: String, buckets: Int): Long =
    store.compactStage(spark, tag, buckets) { (v, post) =>
      val (gen, lens) = readMeta(spark, tag)
      writeMeta(spark, tag, gen, lens, v)
      post
    }

  private[graft] def compactCommit(spark: SparkSession, tag: String,
      v: Long, buckets: Int): Unit =
    store.commit(spark, tag, v, buckets)
}
