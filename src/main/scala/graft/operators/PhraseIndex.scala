package graft.operators

import graft.sources.VersionedStore
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
  * Maintenance mirrors the BM25 index 1:1 on the same [[IndexStore]]
  * versioned layout: generation-stamped appends ([[appendToPhraseIndex]]),
  * tombstone retraction with an ENFORCED broadcast bound
  * ([[deleteFromPhraseIndex]] auto-compacts past the cap), upsert =
  * tombstone-then-append, and ATOMIC compaction (stage version N+1,
  * commit with one marker create, version N untouched until after the
  * commit).
  * The only structural difference from BM25: no corpus-stats row is
  * needed for ranking (occurrence count is per-doc), so the 1-row meta
  * table carries just the append generation and the indexed lengths.
  *
  * Storage cost: Σ_n (tokens − n + 1) window rows before per-doc
  * aggregation — the standard positional-index multiple of the text. At
  * 100 TB the lengths list is the knob: index 2..3 and serve longer
  * phrases by probing their length-3 prefix then verifying, or widen
  * the list for a phrase-heavy tier.
  */
object PhraseIndex {

  private def postTable(tag: String) = s"g_phr_post_$tag"
  private def metaTable(tag: String) = s"g_phr_meta_$tag"
  private def tombTable(tag: String) = s"g_phr_tomb_$tag"
  private def idsTable(tag: String) = s"g_phr_ids_$tag"
  private def indexBase(tag: String) =
    s"${graft.sources.Bucketing.processRoot}/phrase_$tag"

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

  private def dir(tag: String, table: String, v: Long) =
    VersionedStore.tableDir(indexBase(tag), table, v)

  private def registerTables(spark: SparkSession, tag: String, v: Long,
      buckets: Int): Unit = {
    IndexStore.registerBucketed(spark, postTable(tag), dir(tag, "post", v),
      "w", buckets)
    IndexStore.registerParquet(spark, metaTable(tag), dir(tag, "stats", v))
    IndexStore.registerParquet(spark, tombTable(tag), dir(tag, "tomb", v))
    IndexStore.registerParquet(spark, idsTable(tag), dir(tag, "ids", v))
  }

  /** The newest committed version of the index. */
  private def liveVersion(spark: SparkSession, tag: String): Long =
    VersionedStore.latest(spark, indexBase(tag)).getOrElse(
      sys.error(s"phrase index '$tag' has no committed version"))

  /** Recover the catalog entries from the newest committed version — the
    * fresh-session / post-crash entry point (same contract as
    * [[Retrieval.openIndex]]). */
  def openIndex(spark: SparkSession, tag: String, buckets: Int = 8): Unit = {
    registerTables(spark, tag, liveVersion(spark, tag), buckets)
    repairKnownIds(spark, tag)
    // reclaim any version a crashed compaction staged but never committed
    VersionedStore.gcStaged(spark, indexBase(tag))
    ()
  }

  private def writeMeta(spark: SparkSession, tag: String, gen: Long,
      lengths: Seq[Int], v: Long): Unit = {
    import spark.implicits._
    IndexStore.stagePlain(
      Seq((gen, lengths.distinct.sorted.mkString(",")))
        .toDF("gen", "lens"),
      dir(tag, "stats", v))
  }

  private def readMeta(spark: SparkSession, tag: String): (Long, Seq[Int]) = {
    val r = spark.table(metaTable(tag)).collect().head
    (r.getLong(0),
      r.getString(1).split(",").filter(_.nonEmpty).map(_.toInt).toSeq)
  }

  /** Build the stored phrase index once per (tag, geometry): window
    * postings for the declared lengths at generation 0, the 1-row meta
    * table, an empty tombstone table — staged as one version, committed
    * with one marker create. The ONLY place the corpus is read. */
  def buildPhraseIndex(spark: SparkSession, docs: => DataFrame,
      idCol: String, textCol: String, tag: String, lengths: Seq[Int],
      buckets: Int = 8): Unit =
    graft.sources.Bucketing.ensureOnce(s"phrase@$tag#$buckets") {
      val built = VersionedStore.publish(spark, indexBase(tag)) { v =>
        val d = docs.cache()
        val post = windowPostings(d, idCol, textCol, lengths)
          .withColumn("gen", lit(0L))
        IndexStore.stageBucketed(post, dir(tag, "post", v), "w", buckets)
        writeMeta(spark, tag, 0L, lengths, v)
        IndexStore.stagePlain(
          post.select(col(idCol), col("gen").as("upto_gen")).limit(0),
          dir(tag, "tomb", v))
        IndexStore.stagePlain(d.select(col(idCol)).distinct(),
          dir(tag, "ids", v))
        d.unpersist()
      }
      registerTables(spark, tag, built, buckets)
    }

  /** The stored postings through their tombstones — merge-on-read,
    * identical shape to BM25's: tombstone max-gens broadcast, postings
    * keep their window-bucketed layout, a doc's rows serve only above
    * its tombstone generation. */
  private def livePostings(spark: SparkSession, tag: String,
      idCol: String): DataFrame = {
    val post = spark.table(postTable(tag))
    if (spark.table(tombTable(tag)).isEmpty) post
    else {
      val tombMax = spark.table(tombTable(tag)).groupBy(col(idCol))
        .agg(max("upto_gen").as("tomb_upto"))
      post.join(broadcast(tombMax), Seq(idCol), "left_outer")
        .filter(col("tomb_upto").isNull || col("gen") > col("tomb_upto"))
        .drop("tomb_upto")
    }
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
    val post = livePostings(spark, tag, idCol)
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
        val post = livePostings(spark, tag, idCol)
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
    * generation. Same crash contract as BM25's append — postings land
    * first, the 1-row meta (gen counter) second; [[repairMeta]]
    * restates a stale counter from the postings on recovery. Caller
    * contract: a doc id is appended at most once per live generation
    * ([[upsertIntoPhraseIndex]] is the re-add path). */
  def appendToPhraseIndex(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, tag: String,
      buckets: Int = 8): Unit = {
    require(spark.catalog.tableExists(postTable(tag)),
      s"phrase index '$tag' must be initialized by buildPhraseIndex first")
    // writer lock across the gen derivation + postings/ids/meta writes
    // (racing appenders would share a generation; an append racing a
    // compaction's commit would write into the version being retired)
    VersionedStore.withWriterLock(spark, indexBase(tag)) {
    val (gen, lens) = readMeta(spark, tag)
    // clear the stored counter AND every tombstone — a stale counter
    // after an append crash must not land a delete→re-add at its own
    // tombstone's generation (see Retrieval.appendToIndex; tombstones
    // are bounded by the auto-compact cap, so the max is cheap)
    val tombMax = spark.table(tombTable(tag))
      .agg(coalesce(max("upto_gen"), lit(0L))).collect().head.getLong(0)
    val next = math.max(gen, tombMax) + 1
    val b = batch.cache()
    windowPostings(b, idCol, textCol, lens)
      .withColumn("gen", lit(next))
      .write.mode("append").bucketBy(buckets, "w").sortBy("w")
      .format("parquet").saveAsTable(postTable(tag))
    // compact known-ids ride along (postings → ids → meta; a crash
    // before this write only leaves ids MISSING entries, restated by
    // [[repairKnownIds]] on recovery)
    b.select(col(idCol)).distinct().write.mode("append").format("parquet")
      .saveAsTable(idsTable(tag))
    b.unpersist()
    writeMeta(spark, tag, next, lens, liveVersion(spark, tag))
    spark.catalog.refreshTable(postTable(tag))
    spark.catalog.refreshTable(idsTable(tag))
    spark.catalog.refreshTable(metaTable(tag))
    }
  }

  /** The known-ids frame the ingest guard anti-joins against — the
    * compact id list, never the (doc × window) postings. */
  private[graft] def knownIds(spark: SparkSession, tag: String): DataFrame =
    spark.table(idsTable(tag))

  /** Restate the known-ids list after an append crash (ids can only be
    * MISSING entries). UNION with the surviving list, not a replacement:
    * a doc shorter than every indexed window length is in ids with zero
    * postings rows — legitimately — and a repair that forgot it would
    * let a redelivery re-ingest it (round-10 ADVICE). One distinct over
    * the postings, run on recovery ([[openIndex]] calls it). */
  def repairKnownIds(spark: SparkSession, tag: String): Boolean = {
    val post = spark.table(postTable(tag))
    val idCol = post.columns
      .filterNot(Set("w", "wlen", "n_hits", "first_pos", "gen")).head
    val surviving = knownIds(spark, tag).select(col(idCol))
    val truth = post.select(col(idCol)).unionByName(surviving)
      .distinct().localCheckpoint()
    val drifted = truth.count() > surviving.distinct().count()
    if (drifted) {
      IndexStore.stageIds(truth, dir(tag, "ids", liveVersion(spark, tag)),
        idCol)
      spark.catalog.refreshTable(idsTable(tag))
    }
    drifted
  }

  /** [[appendToPhraseIndex]] made REDELIVERY-PROOF — the foreachBatch
    * body for a live phrase-indexing stream, mirroring
    * Retrieval.ingestNewDocs: drop intra-batch duplicates, drop docs
    * the index has EVER held (anti-join against the COMPACT id list —
    * ∝ corpus cardinality, never a window-postings scan; tombstoned
    * ids stay known until compaction, so a redelivered insert can't
    * resurrect a deleted doc), append the rest. */
  def ingestNewDocs(spark: SparkSession, batch: DataFrame, idCol: String,
      textCol: String, tag: String, buckets: Int = 8): Unit = {
    val known = knownIds(spark, tag).select(col(idCol)).distinct()
    val fresh = batch.dropDuplicates(Seq(idCol))
      .join(known, Seq(idCol), "left_anti").localCheckpoint()
    if (fresh.limit(1).count() > 0)
      appendToPhraseIndex(spark, fresh, idCol, textCol, tag, buckets)
  }

  /** Restate the meta generation counter from the stored truth (max
    * postings gen ∪ max tombstone gen) after a crash between the two
    * append writes. Returns true when a repair was needed. */
  def repairMeta(spark: SparkSession, tag: String): Boolean = {
    val maxPost = spark.table(postTable(tag))
      .agg(coalesce(max("gen"), lit(0L))).collect().head.getLong(0)
    val maxTomb = spark.table(tombTable(tag))
      .agg(coalesce(max("upto_gen"), lit(0L))).collect().head.getLong(0)
    val want = math.max(maxPost, maxTomb)
    val (cur, lens) = readMeta(spark, tag)
    val drifted = cur != want
    if (drifted) {
      writeMeta(spark, tag, want, lens, liveVersion(spark, tag))
      spark.catalog.refreshTable(metaTable(tag))
    }
    drifted
  }

  /** Retract docs: one tombstone (id, upto_gen) per currently-live doc;
    * double deletes are no-ops. Auto-compacts when the tombstone table
    * outgrows `maxTombstones` — the serve-time broadcast bound is
    * enforced, not advisory. */
  def deleteFromPhraseIndex(spark: SparkSession, ids: DataFrame,
      idCol: String, tag: String,
      maxTombstones: Long = Retrieval.DefaultMaxTombstones,
      buckets: Int = 8): Unit = {
    require(spark.catalog.tableExists(postTable(tag)),
      s"phrase index '$tag' must be initialized by buildPhraseIndex first")
    val doomed = livePostings(spark, tag, idCol)
      .join(ids.select(col(idCol)).distinct(), Seq(idCol))
      .groupBy(col(idCol))
      .agg(max("gen").as("upto_gen"))
      .localCheckpoint()
    // tombstone write under the writer lock; auto-compaction AFTER
    // release (withWriterLock is not re-entrant and compactPhraseIndex
    // takes its own hold)
    val needCompact = doomed.limit(1).count() > 0 &&
      VersionedStore.withWriterLock(spark, indexBase(tag)) {
        doomed.write.mode("append").format("parquet")
          .saveAsTable(tombTable(tag))
        spark.catalog.refreshTable(tombTable(tag))
        spark.table(tombTable(tag)).count() > maxTombstones
      }
    if (needCompact) compactPhraseIndex(spark, tag, idCol, buckets)
  }

  /** Delete-then-append on the doc id — the phrase-index half of an
    * upsert (run it alongside [[Retrieval.upsertIntoIndex]] to keep a
    * BM25+phrase tier consistent). */
  def upsertIntoPhraseIndex(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, tag: String,
      buckets: Int = 8): Unit = {
    val b = batch.cache()
    deleteFromPhraseIndex(spark, b.select(col(idCol)), idCol, tag,
      buckets = buckets)
    appendToPhraseIndex(spark, b, idCol, textCol, tag, buckets)
    b.unpersist()
  }

  /** Atomic compaction: stage version N+1 (live postings with tombstones
    * folded in, meta, empty tombstones), commit with one marker create,
    * re-point the catalog, drop version N. Crash before the marker → N
    * serves untouched via [[openIndex]]. Returns (filesBefore,
    * filesAfter) for the postings store. */
  def compactPhraseIndex(spark: SparkSession, tag: String, idCol: String,
      buckets: Int = 8): (Int, Int) = {
    val before = parquetFileCount(spark, tag)
    // writer lock: two concurrent compactions would race the same
    // staged version directory — the second fails fast
    VersionedStore.withWriterLock(spark, indexBase(tag)) {
      val next = compactStage(spark, tag, idCol, buckets)
      compactCommit(spark, tag, next, buckets)
    }
    (before, parquetFileCount(spark, tag))
  }

  private def parquetFileCount(spark: SparkSession, tag: String): Int = {
    import org.apache.hadoop.fs.Path
    val loc = new Path(dir(tag, "post", liveVersion(spark, tag)))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(loc)
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
  }

  private[graft] def compactStage(spark: SparkSession, tag: String,
      idCol: String, buckets: Int): Long = {
    val next = liveVersion(spark, tag) + 1
    val (gen, lens) = readMeta(spark, tag)
    // same one-task-per-bucket rewrite as Retrieval.compactStage: the
    // shuffle hash IS the bucket hash, so `buckets` tasks → `buckets`
    // files, a real small-file merge
    val postSnap = livePostings(spark, tag, idCol).localCheckpoint()
      .repartition(buckets, col("w"))
    IndexStore.stageBucketed(postSnap, dir(tag, "post", next), "w", buckets)
    writeMeta(spark, tag, gen, lens, next)
    IndexStore.stagePlain(spark.table(tombTable(tag)).limit(0),
      dir(tag, "tomb", next))
    IndexStore.stagePlain(postSnap.select(col(idCol)).distinct(),
      dir(tag, "ids", next))
    next
  }

  private[graft] def compactCommit(spark: SparkSession, tag: String,
      v: Long, buckets: Int): Unit = {
    VersionedStore.commitVersion(spark, indexBase(tag), v)
    registerTables(spark, tag, v, buckets)
    VersionedStore.retainFrom(spark, indexBase(tag), v)
  }
}
