package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale corpus pipelines: exact
  * (content-hash), MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * All hashing is md5-derived so every stage is reproducible in the
  * DuckDB oracle (md5_number_lower) as well as in Spark (`conv` over the
  * byte-reversed hex) — no engine-private hash functions.
  *
  * Scale design (100 TB): everything is shuffle-by-bucket — shingling and
  * signatures are map-side; candidate generation is an equi-join on
  * (band, band-hash) buckets, never an all-pairs product; only bucket-mates
  * are verified with true Jaccard. Hot buckets (boilerplate text) are
  * dropped before the pair join (`maxBucketSize`) so no single key owns
  * the stage — see [[minhashPairs]].
  */
object Dedup {

  /** Mersenne prime 2^31−1 — modulus for MinHash permutations. */
  val P: Long = 2147483647L

  /** 2^56 — the stable-hash domain. */
  val M56: Long = 72057594037927936L

  /** Deterministic 56-bit content hash: md5 bytes 8..14 little-endian.
    * Chosen so DuckDB reproduces it as `md5_number_lower(s) % 2^56`
    * (md5_number_lower = little-endian uint64 of md5 bytes 8..15; the
    * mod drops byte 15, keeping the value inside a signed long).
    * Implemented as a custom codegen Expression — the equivalent
    * conv(byte-reversed-hex(md5)) chain cost ~6 string expressions per
    * shingle and dominated the MinHash profile. */
  def hash56(c: Column): Column = graft.plans.StableHash56.hash56(c)

  /** Hash folded into [0, P). */
  def hash31(c: Column): Column = hash56(c) % P

  /** Distinct character n-gram shingles of a text column. */
  def charShingles(text: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
      i => text.substr(i, lit(n))))

  /** `df` plus column `out`: the Jaccard similarity of two
    * (already-distinct) shingle arrays, as an exact double (|∩| / |∪|
    * with integer operands, 0 for two empty sets). The intersection size
    * is taken once per row behind [[EvalOnce]], as in [[jaccardAtLeast]];
    * as a plain expression the CASE and the union each planned their own
    * `array_intersect`, three per pair. */
  def withJaccard(df: DataFrame, a: Column, b: Column,
      out: String): DataFrame = {
    val inter = col("__inter")
    val union = size(a) + size(b) - inter
    df.withColumn("__inter", EvalOnce(size(array_intersect(a, b))))
      .withColumn(out,
        when(union > 0, inter.cast("double") / union.cast("double")).otherwise(0.0))
      .drop("__inter")
  }

  /** Threshold-verified Jaccard over attached (hs_a, hs_b) candidate
    * rows — the verify tail shared by the MinHash/prefix families,
    * factored so the intersect is planned EXACTLY ONCE behind
    * [[EvalOnce]] (3 intersections per pair without it, measured as 24 s
    * of dd_paragraph's 26 s final-stage CPU at sf0.1). jaccard is the
    * same exact-integer-ratio double. */
  private def jaccardAtLeast(joined: DataFrame, threshold: Double,
      aCol: String, bCol: String): DataFrame =
    joined
      .select(col(aCol), col(bCol), size(col("hs_a")).as("sz_a"),
        size(col("hs_b")).as("sz_b"),
        EvalOnce(size(array_intersect(col("hs_a"), col("hs_b"))))
          .as("inter"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col(aCol), col(bCol), col("jaccard"))

  /** MinHash permutation parameters — deterministic, shared with the
    * oracle SQL builder. */
  def minhashA(j: Int): Long = (j * 2654435761L + 1) % P
  def minhashB(j: Int): Long = (j * 40503L + 17) % P

  /** Near-duplicate pairs via MinHash + LSH banding.
    *
    * k signature components in `bands` bands of k/bands rows; candidate
    * pairs share all rows of at least one band; candidates are then
    * verified with true Jaccard ≥ `threshold` over the *hashed* shingle
    * sets (longs intersect ~4× cheaper than strings; a 2^-31 collision
    * perturbs the estimate negligibly and the oracle hashes identically).
    *
    * Band geometry: r = k/bands rows per band. With the corpus sharing
    * one small vocabulary, background pairs sit near J≈0.2, so r must be
    * high enough that b·J^r stays tiny — r=4,b=4 gives ~0.6% candidate
    * rate at J=0.2 while catching J≥0.9 pairs with P≈0.99. r=2 flooded
    * the verifier with 300k+ candidates at sf0.1.
    *
    * Reference behavior being replaced: the fuzzy dedup in
    * applicant_processor.py:317-336 is an O(N) dict scan on a normalized
    * key — adequate at 10^3 rows, not at 10^10; MinHash LSH is the
    * scale-correct restatement. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, k: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, maxBucketSize: Int = 100000): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    require(maxBucketSize > 1, "maxBucketSize must allow at least one pair")
    val rows = k / bands
    // fused shingle→hash→distinct (see ShingleHash): value-identical to
    // array_distinct(transform(charShingles(text,n), hash31)) with no
    // intermediate string array
    val sig = df.select(col(idCol).as("id"),
      graft.plans.ShingleHash.shingleHash(col(textCol), n).as("hs"))
      .withColumn("sig", graft.plans.MinhashSig.minhashSig(col("hs"), k))
      .withColumns((0 until k).map(j =>
        s"mh$j" -> element_at(col("sig"), j + 1)).toMap)
      .drop("sig")
    Scratch.cacheOnce(sig) // released between queries, not inline (plans stay lazy)
    val allBuckets = sig.select(col("id") +: (0 until bands).map { b =>
        struct((0 until rows).map(r => col(s"mh${b * rows + r}").as(s"h$r")): _*).as(s"band$b")
      }: _*)
      .select(col("id"), posexplode(array((0 until bands).map(b => col(s"band$b")): _*)))
      .select(col("id"), col("pos").as("band"), col("col").as("bh"))
    // Hot-bucket cap: a bucket of m members emits m(m-1)/2 candidates, so
    // one boilerplate bucket can own the whole stage at corpus scale. Drop
    // buckets over `maxBucketSize` via a map-side count + broadcast
    // anti-join (the hot set is tiny by construction — never collected).
    // True duplicates inside a dropped bucket are the exact-dedup stage's
    // job (identical text ⇒ identical content hash), not LSH's.
    val hot = allBuckets.groupBy("band", "bh").agg(count(lit(1)).as("bn"))
      .filter(col("bn") > maxBucketSize).select("band", "bh")
    val buckets = allBuckets.join(broadcast(hot), Seq("band", "bh"), "left_anti")
    val cand = buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
      // re-spread the bare pair stream before the shingle arrays attach
      // (the containmentPairs lesson, r16): the Jaccard verify is
      // CPU-dense per byte and AQE's byte-based coalescing ran it in ONE
      // task at sf0.1. Keyed on id_b — id_a can alias an upstream
      // partitioning, which would make the exchange redundant-removable.
      .repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        .toInt, col("id_b"))
    val sa = sig.select(col("id").as("id_a"), col("hs").as("hs_a"))
    val sb = sig.select(col("id").as("id_b"), col("hs").as("hs_b"))
    jaccardAtLeast(cand.join(sa, "id_a").join(sb, "id_b"),
      threshold, "id_a", "id_b")
  }

  /** Incremental near-dup check: which `incoming` docs are near-dups of
    * the `existing` corpus — the continuous-ingest form of
    * [[minhashPairs]] (reference shape: the weekly harvest's
    * already-seen filtering, weekly_scheduler.py:586-609, upgraded from
    * exact-key to near-dup). Both sides are signed identically;
    * candidates share a band bucket ACROSS sides only — existing ×
    * existing pairs are yesterday's answer and never recomputed. At
    * scale the existing side's buckets live as a stored table keyed by
    * (band, bucket), each batch joins against it and appends its own
    * rows, so per-batch cost scales with the batch, not the corpus —
    * that design is MATERIALIZED in [[incrementalNearDupsStored]]; this
    * form re-signs both sides in memory and stays the simpler baseline.
    * Returns (new_id, dup_of, jaccard) at true Jaccard ≥ `threshold`. */
  def incrementalNearDups(existing: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, n: Int = 5, k: Int = 16,
      bands: Int = 4, threshold: Double = 0.5,
      maxBucketSize: Int = 100000): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val rows = k / bands
    def sigOf(df: DataFrame) = df.select(col(idCol).as("id"),
        graft.plans.ShingleHash.shingleHash(col(textCol), n).as("hs"))
      .withColumn("sig", graft.plans.MinhashSig.minhashSig(col("hs"), k))
    def bucketsOf(sig: DataFrame) = sig.select(col("id"),
        posexplode(array((0 until bands).map { b =>
          struct((0 until rows).map(r =>
            element_at(col("sig"), b * rows + r + 1).as(s"h$r")): _*)
        }: _*)))
      .select(col("id"), col("pos").as("band"), col("col").as("bh"))
    val sigEx = Scratch.cacheOnce(sigOf(existing))
    val sigIn = Scratch.cacheOnce(sigOf(incoming))
    // boilerplate cap on the big (existing) side, like minhashPairs: a
    // hot stored bucket would multiply against every future batch
    val bEx0 = bucketsOf(sigEx)
    val hot = bEx0.groupBy("band", "bh").agg(count(lit(1)).as("bn"))
      .filter(col("bn") > maxBucketSize).select("band", "bh")
    val bEx = bEx0.join(broadcast(hot), Seq("band", "bh"), "left_anti")
    val cand = bucketsOf(sigIn).as("a").join(bEx.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.id").as("new_id"), col("b.id").as("dup_of"))
      .distinct()
    jaccardAtLeast(cand
      .join(sigIn.select(col("id").as("new_id"), col("hs").as("hs_a")), "new_id")
      .join(sigEx.select(col("id").as("dup_of"), col("hs").as("hs_b")), "dup_of"),
      threshold, "new_id", "dup_of")
  }

  /** [[incrementalNearDups]] with the stored-signature design
    * MATERIALIZED — the production continuous-ingest shape: the existing
    * corpus's MinHash signatures (id, hs) and its already-hot-capped
    * band buckets (band, h0..h{r-1}, id) persist as bucketed external
    * parquet tables, written ONCE per (tag, geometry, JVM) via
    * Bucketing. Every batch signs ONLY ITSELF, equi-joins its bucket
    * rows against the STORED bucket table, and verifies against the
    * STORED signatures — batch N+1 never re-reads, re-shingles, or
    * re-signs the existing corpus (pinned in OperatorsSpec: the
    * existing-side thunk is not even forced on the second call). The
    * stored bucket table is bucketed on h0 ⊆ the join keys, so the
    * stored side shuffles zero bytes at query time; only the
    * batch-sized side exchanges. Hot buckets are dropped at WRITE time:
    * a boilerplate bucket would otherwise multiply against every future
    * batch.
    *
    * `tag` must uniquely identify the existing corpus (callers embed
    * the source dir); signature/bucket geometry is folded into the memo
    * key here, and the data path is pid-scoped (Bucketing.processRoot).
    * Appending the batch's own rows into the stored tables — making the
    * batch part of "existing" for the NEXT batch — is the caller's
    * ingest step (Merge.upsert on the same tables); this function is
    * the read path. */
  def incrementalNearDupsStored(spark: org.apache.spark.sql.SparkSession,
      existing: => DataFrame, incoming: DataFrame, idCol: String,
      textCol: String, tag: String, n: Int = 5, k: Int = 16,
      bands: Int = 4, threshold: Double = 0.5,
      maxBucketSize: Int = 100000, buckets: Int = 8): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val rows = k / bands
    def sigOf(df: DataFrame) = df.select(col(idCol).as("id"),
        graft.plans.ShingleHash.shingleHash(col(textCol), n).as("hs"))
      .withColumn("sig", graft.plans.MinhashSig.minhashSig(col("hs"), k))
    val hCols = (0 until rows).map(r => s"h$r")
    def flatBucketsOf(sig: DataFrame) = sig.select(col("id"),
        posexplode(array((0 until bands).map { b =>
          struct((0 until rows).map(r =>
            element_at(col("sig"), b * rows + r + 1).as(s"h$r")): _*)
        }: _*)))
      .select(col("id") +: col("pos").as("band") +:
        hCols.map(h => col(s"col.$h").as(h)): _*)
    val sigTable = s"g_dd_sigs_$tag"
    val bucketTable = s"g_dd_buckets_$tag"
    val base = s"${graft.sources.Bucketing.processRoot}/dd_inc_$tag"
    graft.sources.Bucketing.ensureOnce(
        s"dd_inc@$tag#$n/$k/$bands/$maxBucketSize/$buckets") {
      // the ONLY place the existing corpus is read: one forced pass
      // feeds both stored tables
      val sigEx = sigOf(existing).cache()
      graft.sources.Bucketing.writeBucketed(
        sigEx.select("id", "hs"), sigTable, s"$base/sigs", "id", buckets)
      val bEx0 = flatBucketsOf(sigEx)
      val hot = bEx0.groupBy(("band" +: hCols).map(col): _*)
        .agg(count(lit(1)).as("bn"))
        .filter(col("bn") > maxBucketSize)
        .select(("band" +: hCols).map(col): _*)
      graft.sources.Bucketing.writeBucketed(
        bEx0.join(broadcast(hot), "band" +: hCols, "left_anti"),
        bucketTable, s"$base/buckets", "h0", buckets)
      sigEx.unpersist()
    }
    val sigIn = Scratch.cacheOnce(sigOf(incoming))
    val cand = flatBucketsOf(sigIn).as("a")
      .join(spark.table(bucketTable).as("b"),
        ("band" +: hCols).map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _))
      .select(col("a.id").as("new_id"), col("b.id").as("dup_of"))
      .distinct()
    jaccardAtLeast(cand
      .join(sigIn.select(col("id").as("new_id"), col("hs").as("hs_a")), "new_id")
      .join(spark.table(sigTable)
        .select(col("id").as("dup_of"), col("hs").as("hs_b")), "dup_of"),
      threshold, "new_id", "dup_of")
  }

  /** The INGEST half of the stored-signature loop: append a batch's
    * signatures and band-bucket rows to the tables
    * [[incrementalNearDupsStored]] reads, making the batch part of
    * "existing" for every LATER batch — together they are the
    * continuous-ingest cycle (check batch → ingest batch → next batch
    * sees it), exercised end-to-end by StreamingSpec's foreachBatch
    * twin. Appends preserve the stored bucket layout (same bucketBy
    * spec), so reads stay exchange-free.
    *
    * Hot-cap caveat, stated honestly: the cap was applied to the
    * INITIAL corpus at build time; appended rows can in principle grow
    * a bucket past the cap between compactions. A production store
    * re-applies the cap on its periodic compaction pass — the same
    * maintenance window that would merge small append files. */
  def appendBatchToStore(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, idCol: String, textCol: String, tag: String,
      n: Int = 5, k: Int = 16, bands: Int = 4, buckets: Int = 8): Unit = {
    require(k % bands == 0, "k must divide into bands")
    val rows = k / bands
    val sigTable = s"g_dd_sigs_$tag"
    val bucketTable = s"g_dd_buckets_$tag"
    require(spark.catalog.tableExists(sigTable) &&
        spark.catalog.tableExists(bucketTable),
      s"store '$tag' must be initialized by incrementalNearDupsStored first")
    val hCols = (0 until rows).map(r => s"h$r")
    val sig = batch.select(col(idCol).as("id"),
        graft.plans.ShingleHash.shingleHash(col(textCol), n).as("hs"))
      .withColumn("sig", graft.plans.MinhashSig.minhashSig(col("hs"), k))
      .cache()
    sig.select("id", "hs").write.mode("append")
      .bucketBy(buckets, "id").sortBy("id")
      .format("parquet").saveAsTable(sigTable)
    sig.select(col("id"),
        posexplode(array((0 until bands).map { b =>
          struct((0 until rows).map(r =>
            element_at(col("sig"), b * rows + r + 1).as(s"h$r")): _*)
        }: _*)))
      .select(col("id") +: col("pos").as("band") +:
        hCols.map(h => col(s"col.$h").as(h)): _*)
      .write.mode("append")
      .bucketBy(buckets, "h0").sortBy("h0")
      .format("parquet").saveAsTable(bucketTable)
    sig.unpersist()
    spark.catalog.refreshTable(sigTable)
    spark.catalog.refreshTable(bucketTable)
  }

  /** EXACT Jaccard near-dup pairs WITHOUT the all-pairs product — the
    * prefix-filter set-similarity join (AllPairs/PPJoin family): order
    * every document's shingles by ascending global frequency (rarest
    * first, hash tiebreak — both engines use the same deterministic
    * ordering), keep each document's first |s| − ceil(t·|s|) + 1
    * shingles, and candidates are pairs sharing at least one PREFIX
    * shingle. The prefix theorem guarantees zero false negatives at
    * Jaccard ≥ t, so verification against the full sets returns exactly
    * the all-pairs answer — this is the scheme that lifts the bounded
    * id-cap on the quadratic baseline.
    *
    * Scale shape: one global frequency aggregation (map-side combined),
    * one window per document over its own shingles, an equi-join on
    * prefix shingles (rare by construction — frequency ordering puts the
    * corpus-common shingles OUTSIDE prefixes), then per-pair verify. */
  def jaccardPrefixPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = df.select(col(idCol).as("id"),
      graft.plans.ShingleHash.shingleHash(col(textCol), n).as("hs"))
      .withColumn("sz", size(col("hs")))
    Scratch.cacheOnce(docs) // released between queries (plans stay lazy)
    val tn = math.round(threshold * 1000000L) // t as the exact rational tn/10⁶
    val freq = docs.select(explode(col("hs")).as("sh"))
      .groupBy("sh").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("id").orderBy(col("df").asc, col("sh").asc)
    val prefix = docs.select(col("id"), col("sz"), explode(col("hs")).as("sh"))
      .join(freq, "sh")
      .withColumn("pos", row_number().over(byRarity))
      // prefix length via EXACT integer arithmetic: ceil(t·sz) computed
      // as ceilDiv(tn·sz, 10⁶) with tn = round(t·10⁶), NOT double ceil —
      // ceil(0.9 * 10) evaluates 9.000000000000002 → 10 in doubles,
      // keeping one prefix shingle too few and silently voiding the
      // prefix theorem's no-false-negative guarantee exactly at the
      // threshold boundary. The oracle SQL shares the same integer
      // expression so the engines can never diverge on the bound.
      .filter(expr(s"pos <= sz - (($tn * CAST(sz AS BIGINT) + 999999)" +
        " DIV 1000000) + 1"))
      .select("id", "sh")
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
      // re-spread the bare pair stream before the arrays attach (the
      // minhashPairs lesson): the verify is CPU-dense per byte and AQE's
      // byte-based coalescing ran it 2-wide at sf0.1 (6.9 s CPU on 2
      // tasks, measured r16). Keyed on id_b — id_a can alias the
      // upstream partitioning, making the exchange redundant-removable.
      .repartition(df.sparkSession.conf
        .get("spark.sql.shuffle.partitions").toInt, col("id_b"))
    val sa = docs.select(col("id").as("id_a"), col("hs").as("hs_a"))
    val sb = docs.select(col("id").as("id_b"), col("hs").as("hs_b"))
    jaccardAtLeast(cand.join(sa, "id_a").join(sb, "id_b"),
      threshold, "id_a", "id_b")
  }

  /** ASYMMETRIC CONTAINMENT pairs — Broder 1997's OTHER resemblance
    * measure: C(A→B) = |S(A)∩S(B)| / |S(A)|, the fraction of A's
    * shingles that also appear in B. Jaccard misses a short document
    * quoted whole inside a long one (the union term drowns it);
    * containment is exactly the "is A included in B" detector — quote
    * and truncation mining in corpus curation, where a contained doc
    * is redundant with its container regardless of the size gap.
    *
    * Prefix theorem, containment form: order shingles by any global
    * total order (ascending corpus frequency, hash tiebreak — rarest
    * first); if |S(A)∩S(B)| ≥ ⌈t·|S(A)|⌉ then A's first
    * |S(A)| − ⌈t·|S(A)|⌉ + 1 shingles must intersect S(B). Only the
    * CONTAINED side gets a prefix; the container side is indexed in
    * full (containment puts no lower bound on |B|, so no symmetric
    * pruning exists — the candidate stage is A-prefix × B-inverted-
    * index, both equi-joins). Zero false negatives at threshold t;
    * per-pair verification against the full sets makes the result
    * exactly the all-pairs answer. Same corpus caveat as
    * jaccardPrefixPairs: pruning power comes from shingle rarity, so
    * the registered instrument pins a bounded id range while
    * production-scale containment over vocabulary-dense data would
    * df-cap the index side (surfacing the dropped shingles, the a43
    * discipline). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, threshold: Double = 0.9): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = df.select(col(idCol).as("id"),
      graft.plans.ShingleHash.shingleHash(col(textCol), n).as("hs"))
      .withColumn("sz", size(col("hs")))
    Scratch.cacheOnce(docs) // released between queries (plans stay lazy)
    val tn = math.round(threshold * 1000000L) // t as the exact rational tn/10⁶
    val freq = docs.select(explode(col("hs")).as("sh"))
      .groupBy("sh").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("id").orderBy(col("df").asc, col("sh").asc)
    val prefix = docs.select(col("id"), col("sz"), explode(col("hs")).as("sh"))
      .join(freq, "sh")
      .withColumn("pos", row_number().over(byRarity))
      // prefix length via EXACT integer arithmetic: ceil(t·sz) computed
      // as ceilDiv(tn·sz, 10⁶) with tn = round(t·10⁶), NOT double ceil —
      // ceil(0.9 * 10) evaluates 9.000000000000002 → 10 in doubles,
      // keeping one prefix shingle too few and silently voiding the
      // prefix theorem's no-false-negative guarantee exactly at the
      // threshold boundary. The oracle SQL shares the same integer
      // expression so the engines can never diverge on the bound.
      .filter(expr(s"pos <= sz - (($tn * CAST(sz AS BIGINT) + 999999)" +
        " DIV 1000000) + 1"))
      .select(col("id"), col("sh"))
    val full = docs.select(col("id").as("id_b"), explode(col("hs")).as("sh"))
    val cand = prefix.as("a").join(full.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") =!= col("b.id_b"))
      .select(col("a.id").as("id_a"), col("b.id_b")).distinct()
      // re-spread the bare pair stream before the shingle arrays attach:
      // the verify is CPU-dense per byte (array_intersect per 16-byte
      // pair row), and AQE's byte-based coalescing ran it in ONE task at
      // sf0.1 (measured r16 — the containmentPairsLsh fix applied here).
      // Keyed on id_b: id_a aliases the prefix window's own id
      // partitioning, so an id_a repartition is removed as redundant and
      // the one-task pipeline survives (measured — the id_a form changed
      // nothing).
      .repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        .toInt, col("id_b"))
    val sa = docs.select(col("id").as("id_a"), col("hs").as("hs_a"))
    val sb = docs.select(col("id").as("id_b"), col("hs").as("hs_b"))
    // the ~10³-element intersect evaluates ONCE behind EvalOnce
    cand.join(sa, "id_a").join(sb, "id_b")
      .select(col("id_a"), col("id_b"), size(col("hs_a")).as("sz_a"),
        EvalOnce(size(array_intersect(col("hs_a"), col("hs_b"))))
          .as("inter"))
      .withColumn("containment",
        col("inter").cast("double") / col("sz_a").cast("double"))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
  }

  /** Per-corpus guard results for [[containmentPairsLsh]], memoized so
    * the construction-time jobs run ONCE per (corpus plan, geometry,
    * conf) per process: a bench sample constructs its query twice and a
    * long-lived session many times, and re-running an unchanged
    * corpus's guard jobs (floor sample, stats agg, common-shingle
    * collect, candidate estimate) measurably owned the query's sf0.1
    * profile (6.9 s → 8.3 s the round they landed un-memoized). The
    * key embeds the CANONICALIZED input plan plus every parameter the
    * guards read, so a different corpus, snapshot location, geometry,
    * or conf value can never be served a stale guard — the
    * sharedEdgesView/ensureOnce freshness discipline applied to guard
    * jobs. A guard that REFUSES throws before the memo records
    * anything, so refusals re-check (and re-refuse loudly) on every
    * construction instead of being cached away. */
  private final case class ContainGuards(nDocs: Long, shingleMass: Long,
      common: Array[Long])
  private val containGuards =
    new java.util.concurrent.ConcurrentHashMap[String, ContainGuards]()
  private val containBudgetOk =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** SCALABLE containment pairs via MinHash-LSH banded candidates —
    * the sketch path [[containmentPairs]]'s scaladoc promises for
    * vocabulary-dense corpora. The exact prefix filter prunes by
    * shingle RARITY; this corpus has none (measured: ~2 000 distinct
    * 5-gram shingles across 5 000 sf0.1 docs, median shingle df 291),
    * so any rarity-keyed candidate stage degenerates near-quadratic.
    * Banding prunes by SIMILARITY instead: a 0.9-contained pair's
    * Jaccard is ≥ ~|A|/|B| (measured 0.57–0.73 for the planted 0.6-
    * truncations) while random pairs sit near 0.05, and 2-row bands at
    * k = 16 (collision prob J² per band, 8 chances) separate the two
    * regimes — measured at sf0.1: all 50 planted truncations collide
    * in ≥ 1 band; ~1.3M candidate rows out of 12.5M possible pairs.
    *
    * Candidates verify EXACTLY against the full shingle sets
    * (asymmetric, BOTH directions per unordered pair), so false
    * positives are impossible; banding recall is probabilistic but
    * DETERMINISTIC — the fixed permutations either catch a pair or
    * not, the oracle replays the identical dealing, and the planted-
    * truncation contract is pinned in OperatorsSpec. Hot buckets are
    * capped like [[minhashPairs]] (boilerplate must not own the
    * stage). Scale shape: signatures ∝ rows; the banded join is an
    * equi-join with capped buckets; verification ∝ candidates.
    *
    * TIME at scale is bounded by two mechanisms (the floor assertion
    * below bounds silent recall loss; these bound the verify stage's
    * wall-clock, which the sf1 gate measured superlinear — 17.95× at
    * 10× data — before they landed):
    *
    *  - `bandDfPct` (percent, default 100 = off): shingles present in
    *    more than bandDfPct% of corpus docs are CORPUS-COMMON
    *    boilerplate and are excluded from the MinHash INPUT only —
    *    verification still runs on the full sets, so every surfaced
    *    containment value is exact. On this corpus the background
    *    random-pair similarity lives almost entirely in those common
    *    shingles (measured at sf0.1: pct=20 cuts banded candidates
    *    1.34M → 269k, 5×, with every planted truncation still
    *    surfacing), while a contained pair's overlap survives the
    *    filter because the SAME global cutoff applies to both sides.
    *    The cutoff is integer-exact in both engines (df > N·pct DIV
    *    100); the excluded list is provably bounded — Σdf = N·avg|hs|,
    *    so at most avg|hs|·100/pct shingles can exceed the cutoff —
    *    and ships as a literal array, never a join side. A doc whose
    *    every shingle is corpus-common leaves banding entirely (it has
    *    no distinguishing content to band on; measured 0 such docs at
    *    every oracled SF). The documented trade: a pair whose ENTIRE
    *    overlap is corpus-common shingles becomes invisible to the
    *    candidate stage — that overlap is boilerplate by definition,
    *    and the exact instrument ([[containmentPairs]]) remains the
    *    tool for boilerplate-inclusive containment.
    *  - candidate budget: before the pair join runs, one agg over the
    *    band-bucket histogram computes the EXACT banded pair mass
    *    Σ bn·(bn−1)/2 over kept (≤ maxBucketSize) buckets, and past
    *    `graft.containment.maxCandidatePairs` (default 2·10⁸) the
    *    build REFUSES with the remedy named — the floor-assertion
    *    pattern applied to time, so a corpus whose floor passes the
    *    recall guard but whose candidate mass would own hours of
    *    verify wall-clock fails loudly instead of "passing" slowly.
    *
    * Returns (contained, container, containment = |A∩B|/|contained|).
    */
  def containmentPairsLsh(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, k: Int = 16, bands: Int = 8, threshold: Double = 0.9,
      maxBucketSize: Int = 100000, bandDfPct: Int = 100): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    require(bandDfPct >= 1 && bandDfPct <= 100,
      "bandDfPct is an integer percent in [1, 100]")
    val rows = k / bands
    val spark = df.sparkSession
    val docs = df.select(col(idCol).as("id"),
      graft.plans.ShingleHash.shingleHash(col(textCol), n).as("hs"))
    Scratch.cacheOnce(docs) // released between queries (plans stay lazy)
    // maxFloorCollide default 0.5: refuse when a MAJORITY of random
    // pairs collide in some band (bucket flood ∝ collide × n²/2 — past
    // half, noise owns the candidate stage and the hot-bucket cap
    // starts dropping real pairs). This corpus measures median-floor
    // collide 0.24 at sf0.01 with verified-perfect planted recall and
    // a never-binding cap, so the margin is real, not theoretical.
    val maxFloorCollide = spark.conf
      .getOption("graft.containment.maxFloorCollide")
      .map(_.toDouble).getOrElse(0.5)
    val guardKey = docs.queryExecution.analyzed.canonicalized.toString +
      s"#n$n/k$k/b$bands/t$threshold/m$maxBucketSize/p$bandDfPct" +
      s"/f$maxFloorCollide"
    val guards = containGuards.computeIfAbsent(guardKey, _ => {
      // BAND-GEOMETRY FLOOR ASSERTION: the 2-row×`bands` geometry was
      // derived from THIS corpus's measured separation (random-pair
      // Jaccard ~0.05 vs planted-pair ≥0.57). That separation is a
      // corpus PROPERTY, not a law — a corpus whose background
      // similarity crosses the band-collision knee floods every bucket
      // with noise pairs, the hot-bucket cap then drops REAL pairs, and
      // recall dies silently. So the build MEASURES the floor on a
      // bounded sample (~64 docs → ≤2016 pairs, one tiny collect) and
      // REFUSES when floor-level pairs would collide in a band with
      // probability past `graft.containment.maxFloorCollide` (default
      // 0.5) — failing loudly with the geometry remedy instead of
      // quietly losing recall. The MEDIAN of sampled pair similarities
      // stands in for the floor — the floor is the TYPICAL random
      // pair's similarity (the p90 tail at sf0.01 measures 0.226 on
      // this corpus while banding recall stays perfect, pinned by the
      // planted-truncation test: a tail quantile refuses corpora the
      // geometry in fact handles) — and the median is also robust to
      // genuine duplicates landing in the sample. The floor is
      // measured on the RAW sets, not the df-capped ones, on purpose:
      // a corpus whose docs are near-identical up to tails would pass
      // a filtered-floor check (the cap strips exactly the shared
      // content) while the cap silently hides its true containments —
      // the raw floor refuses it loudly instead.
      val sampled = docs.select(col("id"), col("hs"))
        .orderBy(hash(col("id")), col("id")).limit(64)
        .collect().map(_.getSeq[Long](1).toSet)
      if (sampled.length >= 8) {
        val sims = for {
          i <- sampled.indices; j <- (i + 1) until sampled.length
        } yield {
          val inter = (sampled(i) & sampled(j)).size.toDouble
          inter / (sampled(i).size + sampled(j).size - inter)
        }
        val floorJ = sims.sorted.apply(sims.length / 2) // median
        def collide(jac: Double) =
          1.0 - math.pow(1.0 - math.pow(jac, rows), bands)
        val floorCollide = collide(floorJ)
        // a same-size pair exactly at the containment threshold has
        // J = t/(2-t); emitted alongside the floor so the margin reads
        // off one log line
        val thresholdCollide = collide(threshold / (2.0 - threshold))
        System.err.println(f"[dedup] containment LSH geometry ${rows}x$bands:" +
          f" sampled-floor J=$floorJ%.3f collides $floorCollide%.3f/pair," +
          f" threshold-level collides $thresholdCollide%.3f/pair")
        if (floorCollide > maxFloorCollide) throw new IllegalStateException(
          f"containmentPairsLsh: this corpus's background similarity " +
            f"(sampled median Jaccard $floorJ%.3f) collides in a band with " +
            f"probability $floorCollide%.3f > maxFloorCollide " +
            f"$maxFloorCollide%.2f — buckets would flood with noise pairs " +
            "and the hot-bucket cap would drop real pairs (silent recall " +
            "loss). Raise rows-per-band (fewer, wider bands at higher k) " +
            "so random pairs stop colliding, or raise " +
            "graft.containment.maxFloorCollide if the corpus is known-dense.")
      }
      val sz = docs.agg(count(lit(1)).as("nd"),
        coalesce(sum(size(col("hs"))), lit(0L)).as("sh")).head()
      val nDocs = sz.getLong(0)
      val mass = sz.getLong(1)
      val common: Array[Long] =
        if (bandDfPct >= 100) Array.emptyLongArray
        else {
          val cap = nDocs * bandDfPct / 100L
          val commonRows = docs.select(explode(col("hs")).as("sh"))
            .groupBy("sh").agg(count(lit(1)).as("cdf"))
            .filter(col("cdf") > cap)
            .select(col("sh"), col("cdf")).collect()
          val droppedMass = commonRows.iterator.map(_.getLong(1)).sum
          System.err.println(s"[dedup] containment LSH df-cap $bandDfPct%:" +
            s" ${commonRows.length} corpus-common shingles (df > $cap)" +
            s" excluded from banding, $droppedMass of $mass occurrences")
          commonRows.map(_.getLong(0)).sorted // sorted: literal stability
        }
      ContainGuards(nDocs, mass, common)
    })
    val banded =
      if (guards.common.isEmpty) docs.withColumn("fhs", col("hs"))
      else docs
        .withColumn("fhs", array_except(col("hs"),
          typedLit(guards.common.toSeq)))
        .filter(size(col("fhs")) > 0)
    val sig = banded
      .withColumn("sig", graft.plans.MinhashSig.minhashSig(col("fhs"), k))
      .withColumns((0 until k).map(j =>
        s"mh$j" -> element_at(col("sig"), j + 1)).toMap)
      .drop("sig", "fhs")
    Scratch.cacheOnce(sig) // released between queries (plans stay lazy)
    val allBuckets = sig.select(col("id") +: (0 until bands).map { b =>
        struct((0 until rows).map(r =>
          col(s"mh${b * rows + r}").as(s"h$r")): _*).as(s"band$b")
      }: _*)
      .select(col("id"),
        posexplode(array((0 until bands).map(b => col(s"band$b")): _*)))
      .select(col("id"), col("pos").as("band"), col("col").as("bh"))
    val bhist = allBuckets.groupBy("band", "bh").agg(count(lit(1)).as("bn"))
    // CANDIDATE-TIME BUDGET (see scaladoc): one agg over the bucket
    // histogram computes the exact banded pair mass before the pair
    // join ever runs; checked once per corpus (memoized alongside the
    // guards — a refusal is NOT memoized, so it re-fires per build).
    val maxCand = spark.conf
      .getOption("graft.containment.maxCandidatePairs")
      .map(_.toLong).getOrElse(200000000L)
    // the budget conf is part of the memo key (the mvMaxGroupSize
    // lesson): changing it in-process must re-run the check, not be
    // served the previous budget's verdict
    val budgetKey = s"$guardKey/cand$maxCand"
    if (!containBudgetOk.contains(budgetKey)) {
      val est = bhist.filter(col("bn") <= maxBucketSize)
        .agg(coalesce(sum(expr("bn * (bn - 1) DIV 2")), lit(0L)).as("c"))
        .head().getLong(0)
      System.err.println(s"[dedup] containment LSH banded pair mass: $est" +
        s" (budget $maxCand = graft.containment.maxCandidatePairs)")
      if (est > maxCand) throw new IllegalStateException(
        s"containmentPairsLsh: banded candidate mass $est pairs exceeds " +
          s"graft.containment.maxCandidatePairs = $maxCand — verify " +
          "wall-clock would be owned by floor-level band collisions, not " +
          "containment evidence. Lower bandDfPct (a stricter df-cap " +
          "shrinks the banding vocabulary), widen the band geometry " +
          "(more rows per band at higher k), or raise the budget if the " +
          "wall-clock is acceptable.")
      containBudgetOk.add(budgetKey)
    }
    val hot = bhist.filter(col("bn") > maxBucketSize).select("band", "bh")
    val buckets =
      allBuckets.join(broadcast(hot), Seq("band", "bh"), "left_anti")
    val cand = buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val sa = sig.select(col("id").as("id_a"), col("hs").as("hs_a"))
    val sb = sig.select(col("id").as("id_b"), col("hs").as("hs_b"))
    // BROADCAST the signature sides: candidates ≫ docs on a dense
    // corpus (measured at sf1: 131M uncapped pairs vs 50k docs × 1.6KB
    // of signatures = 82MB), and a sort-merge join here must SORT the
    // pair stream with both shingle arrays attached — measured at sf1
    // as >79GB of sort spill (SPILL_OUT_OF_MEMORY, disk-full). With
    // both sides broadcast the pair stream pipelines through
    // whole-stage codegen straight into the intersect + threshold
    // filter: arrays never enter a shuffle, and the output is ∝
    // matches.
    //
    // The ceiling is GUARDED, not assumed (AnnIndex's 65 536-cell
    // discipline): the memoized stats agg estimates the broadcast
    // payload, and past `graft.containment.broadcastBytes` (default
    // 256 MB — executor-memory-sized, measured 82 MB at sf1) the
    // verify DEGRADES to shuffled-hash equi-joins instead of OOMing
    // the driver. The shuffle-hash shape keeps the sort out (the
    // spill killer above was the SORT, not the shuffle): the bare
    // pair stream shuffles without arrays attached, each signature
    // side shuffles ∝ docs, and no side ever materializes driver-side.
    val broadcastCeiling = spark.conf
      .getOption("graft.containment.broadcastBytes")
      .map(_.toLong).getOrElse(256L << 20)
    val estBytes = guards.nDocs * 32L + guards.shingleMass * 8L
    val fits = estBytes <= broadcastCeiling
    if (!fits)
      System.err.println(s"[dedup] containment verify: estimated " +
        s"signature broadcast ${estBytes >> 20} MB > ceiling " +
        s"${broadcastCeiling >> 20} MB " +
        "(graft.containment.broadcastBytes) — degrading to " +
        "shuffled-hash equi-joins on the id columns")
    def side(s: DataFrame) =
      if (fits) broadcast(s) else s.hint("shuffle_hash")
    // The verify stage is CPU-dense per BYTE (one array_intersect over
    // ~10³-element sets per 16-byte pair row), so AQE's byte-based
    // coalescing shrank it to 4 tasks at sf0.1 (13.9 s of CPU on a
    // 32-core box — measured r16). Re-spread the bare pair stream to
    // the session's shuffle parallelism BEFORE the arrays attach: the
    // extra exchange moves 16 B/pair and buys full-width verify.
    val shufflePartitions =
      spark.conf.get("spark.sql.shuffle.partitions").toInt
    // keyed on id_a ALONE on purpose: (id_a, id_b) is byte-identical to
    // the distinct's own partitioning, so Catalyst would collapse the
    // exchange and AQE would re-coalesce the survivor
    val spread = cand.repartition(shufflePartitions, col("id_a"))
    // Both asymmetric directions emitted IN-ROW from one intersect: the
    // previous unionByName(ab, ba) form planned the whole verify join
    // (and its array_intersect) once PER LEG — 2× the stage's CPU for
    // byte-identical intersections (measured r16: the two verify stages
    // were 3.7 s each at sf0.1).
    val scored = spread.join(side(sa), "id_a")
      .join(side(sb), "id_b")
      .withColumn("inter", size(array_intersect(col("hs_a"), col("hs_b"))))
      .select(col("id_a"), col("id_b"), col("inter"),
        size(col("hs_a")).as("sz_a"), size(col("hs_b")).as("sz_b"))
    scored.select(explode(array(
        struct(col("id_a").as("contained"), col("id_b").as("container"),
          (col("inter").cast("double") / col("sz_a").cast("double"))
            .as("containment")),
        struct(col("id_b").as("contained"), col("id_a").as("container"),
          (col("inter").cast("double") / col("sz_b").cast("double"))
            .as("containment")))).as("p"))
      .select(col("p.contained").as("contained"),
        col("p.container").as("container"),
        col("p.containment").as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Connected components over an undirected near-dup pair list —
    * the stage that turns pairwise matches into dedup CLUSTERS (a dup
    * "chain" a~b, b~c must collapse to ONE canonical doc even though a~c
    * was never scored). Small-step min-label propagation: each iteration
    * every node adopts the smallest label in its neighborhood; converges
    * in O(component diameter) rounds — near-dup clusters are shallow, so
    * a handful of distributed join+agg rounds, no driver-side graph.
    *
    * Returns (id, component) for every node appearing in `pairs`, where
    * component = the smallest node id in the cluster (deterministic).
    * Docs with no dup pair are implicitly their own singleton cluster.
    *
    * Adaptive execution: when the DISTINCT pair list fits comfortably on
    * the driver (`localThreshold` pairs, default 2M ≈ 32 MB of longs), a
    * local union-find answers in one job — each distributed round costs
    * several scheduler round-trips, which dwarfs the work on a small
    * graph. Past the threshold the label-propagation loop runs; both
    * paths produce identical labels (property-tested against each
    * other). Near-dup graphs are SPARSE by construction (LSH emits few
    * verified pairs even on huge corpora), so the local path is the
    * common case and the loop is the unbounded-corpus safety net. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
      localThreshold: Int = 2000000): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val p = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .distinct().cache()
    // One action decides the path AND fetches the local input: collect at
    // most threshold+1 distinct pairs — the sentinel extra row means "too
    // big, go distributed" without a separate count() job first.
    val es = p.as[(Long, Long)].limit(localThreshold + 1).collect()
    if (es.length <= localThreshold) {
      val parent = scala.collection.mutable.Map[Long, Long]()
      // iterative find with path compression — a recursive version would
      // blow the stack on a degenerate million-node chain
      def find(x: Long): Long = {
        var root = x
        while (parent.getOrElse(root, root) != root)
          root = parent.getOrElse(root, root)
        var cur = x
        while (cur != root) {
          val nxt = parent.getOrElse(cur, cur)
          parent(cur) = root
          cur = nxt
        }
        root
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = es.iterator.flatMap(e => Iterator(e._1, e._2)).toSeq.distinct
      val out = nodes.map(n => (n, find(n)))
      p.unpersist()
      return out.toDF("id", "component")
    }
    val edges = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct().cache()
    // localCheckpoint (not cache) per round: the round plan references
    // `labels` three times, so the LOGICAL lineage would grow 3^round —
    // cache() truncates execution but not the plan tree, and round ~10
    // plans get big enough that merely formatting them for a log OOMs
    // the driver. Checkpointing pins each round to its materialized RDD
    // (constant-size plan); superseded rounds' blocks are released by the
    // ContextCleaner once unreferenced.
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .withColumn("__old", col("component"))
      .localCheckpoint()
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("component").as("c")), "dst")
        .groupBy(col("src").as("id")).agg(min("c").as("nbr_min"))
      // pointer doubling: also shortcut to the label OF the current
      // label (every label is itself a node id, so it has a row). This
      // turns O(component diameter) rounds into O(log diameter) — each
      // round is a cluster-wide barrier, and a 100 TB dup graph with a
      // long chain would otherwise pay diameter × (join+agg) stages.
      val lbl2 = labels.select(col("id").as("l2id"), col("component").as("l2c"))
      val next = labels.select("id", "component").join(nbrMin, Seq("id"), "left")
        .join(lbl2, col("component") === col("l2id"), "left")
        .select(col("id"), least(
            least(col("component"), coalesce(col("nbr_min"), col("component"))),
            coalesce(col("l2c"), col("component"))).as("component"),
          col("component").as("__old"))
        .localCheckpoint()
      // convergence is read off the just-checkpointed round — a cheap
      // local scan, not a plan re-execution
      changed = next.filter(col("component") =!= col("__old")).count()
      labels = next
      i += 1
    }
    require(changed == 0, s"connectedComponents did not converge in $maxIter rounds")
    // release the inputs; the final round's checkpoint stays as the
    // returned result's backing (one (id, component) row per node)
    edges.unpersist()
    p.unpersist()
    labels.select("id", "component")
  }

  /** INCREMENTAL connected-components maintenance: fold a batch of new
    * pairs into stored labels without re-running CC over the corpus.
    *
    * The classical supernode contraction (Shiloach–Vishkin style): each
    * stored component is already a single label, so the only structure a
    * new batch can add lives in the CONTRACTED graph whose nodes are
    * stored labels (or raw ids for endpoints the store has never seen)
    * and whose edges are the new pairs with endpoints replaced by those
    * labels. That graph is ∝ batch size, never corpus size — CC runs on
    * it via [[connectedComponents]] (its local path, in practice), and
    * the result is a label→label remap applied to the stored table with
    * one broadcast join (map-side only; the corpus never shuffles).
    *
    * Label semantics are preserved exactly: stored labels are min-id per
    * component, a merge takes the min over member labels = min over all
    * member ids — so applyComponentDelta(cc(base), delta) ==
    * cc(base ∪ delta) row-for-row (property-tested over random
    * interleavings, and oracle-checked end-to-end by dd_components_inc).
    * `newPairs` may overlap pairs already reflected in `stored`: such
    * edges contract to self-loops and drop out.
    *
    * 100 TB shape: batch cost is signatures + LSH join on the batch
    * (see [[incrementalNearDupsStored]] for the pair side), contraction
    * CC on a frame ∝ batch, then one broadcast-joined pass over stored
    * labels. Nothing scales with corpus except the final relabel scan —
    * and [[componentDeltaChanges]] narrows even that to the rows whose
    * label actually changed, the natural TableStore.upsert payload. */
  def applyComponentDelta(stored: DataFrame, newPairs: DataFrame): DataFrame = {
    val remap = broadcast(componentRemap(stored, newPairs))
    val updated = stored
      .join(remap.select(col("old_label").as("component"), col("new_label")),
        Seq("component"), "left")
      .select(col("id"),
        coalesce(col("new_label"), col("component")).as("component"))
    updated.union(newNodeRows(stored, newPairs, remap))
  }

  /** Only the rows [[applyComponentDelta]] would change or add — the
    * upsert payload for a stored (id, component) table: relabeled
    * members of merged components plus first-seen endpoints. */
  def componentDeltaChanges(stored: DataFrame, newPairs: DataFrame): DataFrame = {
    val remap = broadcast(componentRemap(stored, newPairs))
    val relabeled = stored
      .join(remap.select(col("old_label").as("component"), col("new_label")),
        Seq("component"))
      .filter(col("new_label") =!= col("component"))
      .select(col("id"), col("new_label").as("component"))
    relabeled.union(newNodeRows(stored, newPairs, remap))
  }

  /** The contracted-graph label remap: (old_label, new_label) for every
    * label or new id touched by the batch. Tiny by construction. */
  private def componentRemap(stored: DataFrame, newPairs: DataFrame): DataFrame = {
    val lbl = stored.select(col("id"), col("component"))
    val e = newPairs
      .select(col("id_a").cast("long").as("id_a"),
        col("id_b").cast("long").as("id_b"))
    val contracted = e
      .join(lbl.select(col("id").as("id_a"), col("component").as("ca")),
        Seq("id_a"), "left")
      .join(lbl.select(col("id").as("id_b"), col("component").as("cb")),
        Seq("id_b"), "left")
      .select(coalesce(col("ca"), col("id_a")).as("id_a"),
        coalesce(col("cb"), col("id_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    connectedComponents(contracted)
      .select(col("id").as("old_label"), col("component").as("new_label"))
  }

  /** Labels for batch endpoints absent from the store: their contracted
    * node IS their id, so the remap row (when an edge touched them)
    * carries their final label; isolated-in-contraction endpoints (only
    * same-component duplicate edges) keep themselves as label. */
  private def newNodeRows(stored: DataFrame, newPairs: DataFrame,
      remap: DataFrame): DataFrame =
    newPairs.select(col("id_a").cast("long").as("id"))
      .union(newPairs.select(col("id_b").cast("long").as("id")))
      .distinct()
      .join(stored.select("id"), Seq("id"), "left_anti")
      .join(remap.select(col("old_label").as("id"), col("new_label")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("new_label"), col("id")).as("component"))

  /** Canonical-survivor view of a clustering: one row per component with
    * the kept doc (= the min-id component label), member count, and the
    * sorted member list. The "keep one per cluster" step of a dedup
    * pipeline. */
  def canonicalClusters(components: DataFrame): DataFrame =
    components.groupBy("component")
      .agg(count(lit(1)).as("n_docs"),
        concat_ws(",", sort_array(collect_list(col("id")))).as("members"))

  /** Quality-aware survivor view — the "keep the BEST copy" rule real
    * curation applies (keep-longest in the dedup papers,
    * keep-highest-quality-score in CCNet-style pipelines), where
    * [[canonicalClusters]] keeps the min-id copy: one row per component
    * with the member maximizing `scoreCol` (ties to the smallest id —
    * total order, oracle-replayable). One equi-join on id + one groupBy
    * on component; the argmax is a min(struct(-score, id)) aggregate,
    * no window. Returns (component, keep_id, best_score, n_docs). */
  def bestPerCluster(components: DataFrame, scores: DataFrame,
      idCol: String, scoreCol: String): DataFrame =
    components
      .join(scores.select(col(idCol).cast("long").as("id"),
        col(scoreCol).as("__score")), "id")
      .groupBy("component")
      .agg(count(lit(1)).as("n_docs"),
        min(struct((-col("__score")).as("ns"), col("id").as("id"))).as("__best"))
      .select(col("component"), col("__best.id").as("keep_id"),
        (-col("__best.ns")).as("best_score"), col("n_docs"))

  /** Leakage-free train/val/test assignment: the split is a pure
    * function of the document's near-dup COMPONENT representative, not
    * of its own id — so near-duplicate documents always land on the
    * same side and the held-out sets can never contain a near-copy of a
    * training document (the train/test contamination the dedup papers
    * measure: eval loss on a near-dup of a training doc is memorization,
    * not generalization). A per-doc hash split (txt_split) has exactly
    * this leak whenever a dup pair's ids hash to different buckets.
    *
    * Assignment stays deterministic, reproducible, and stable under
    * corpus growth in the same sense as txt_split, with one caveat
    * stated honestly: adding a document that BRIDGES two components can
    * relabel an existing component (min-id changes) and move that group
    * between splits — unavoidable under any scheme that keeps groups
    * intact. Returns (idCol, rep, split) for every document.
    *
    * Split ratios: the representative's hash bucket (0..99) lands in
    * train below `trainUpto`, val below `valUpto`, else test — defaults
    * 90/5/5, the reference pipeline's ratios, configurable without
    * reimplementing the component-representative logic. */
  def leakFreeSplit(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5, k: Int = 16, bands: Int = 4,
      threshold: Double = 0.5,
      trainUpto: Int = 90, valUpto: Int = 95): DataFrame = {
    require(0 <= trainUpto && trainUpto <= valUpto && valUpto <= 100,
      s"need 0 <= trainUpto <= valUpto <= 100, got $trainUpto/$valUpto")
    val pairs = minhashPairs(docs, idCol, textCol, n, k, bands, threshold)
      .select("id_a", "id_b")
    val comp = connectedComponents(pairs)
      .select(col("id").as(idCol), col("component"))
    val rep = docs.select(idCol).join(comp, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("component"), col(idCol)).as("rep"))
    val bucket = hash56(col("rep").cast("string")) % 100
    rep.select(col(idCol), col("rep"),
      when(bucket < trainUpto, "train").when(bucket < valUpto, "val")
        .otherwise("test").as("split"))
  }

  /** 32-bit SimHash over a token array: bit i is set when the weighted
    * sum of token-hash bit i is positive. Token hashes are computed once
    * per document, then all 32 bit counters accumulate in ONE pass via
    * the codegen SimhashBits expression (the r1 formulation traversed the
    * array 32 times — once per bit; the oracle keeps that per-bit form
    * and values are equal by construction). */
  def simhash32(tokens: Column): Column =
    graft.plans.SimhashBits.simhashBits(
      transform(array_distinct(tokens), t => hash56(t)))

  /** Hamming distance between two simhash values. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash chunk boundaries: 32 bits in 5 chunks (7+7+6+6+6). By
    * pigeonhole, two signatures within Hamming distance 4 agree on at
    * least one chunk — so a bucket join per chunk finds every qualifying
    * pair without an all-pairs product. */
  val SimhashChunks: Seq[(Int, Int)] =
    Seq((0, 7), (7, 7), (14, 6), (20, 6), (26, 6))

  /** Near-duplicate pairs at Hamming distance ≤ `maxHamming` (must be
    * < number of chunks) over precomputed simhash values `(id, simhash)`.
    * Candidates share at least one bit-chunk; the XOR/bit_count verify
    * runs only on bucket-mates. */
  def simhashPairs(sig: DataFrame, maxHamming: Int = 4): DataFrame = {
    require(maxHamming < SimhashChunks.length,
      "pigeonhole guarantee needs maxHamming < chunk count")
    val chunks = SimhashChunks.zipWithIndex.map { case ((shift, width), i) =>
      struct(lit(i).as("c"),
        shiftright(col("simhash"), shift).bitwiseAND((1L << width) - 1).as("v"))
        .as(s"chunk$i")
    }
    val buckets = sig.select(col("id"), col("simhash"),
        posexplode(array(chunks: _*)))
      .select(col("id"), col("simhash"), col("col.c").as("c"), col("col.v").as("v"))
    buckets.as("a").join(buckets.as("b"),
        col("a.c") === col("b.c") && col("a.v") === col("b.v") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("int")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** EXACT substring dedup occurrences — the fixed-k restatement of the
    * suffix-array exact-substring pass (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): every k-token rolling
    * window of every document, hashed; a window whose hash recurs in ≥2
    * DISTINCT documents is a cross-document repeated span, and every
    * occurrence except the lexicographically-first (doc_id, pos) is a
    * span a dedup pass would cut. Returns ALL occurrences of such
    * windows: (wh, doc_id, pos, n_docs, n_occ, is_first).
    *
    * Unlike the near-dup family (MinHash/SimHash: whole-doc similarity),
    * this catches verbatim boilerplate EMBEDDED in otherwise-distinct
    * documents — licenses, headers, quoted chains — which whole-doc
    * signatures dilute below threshold.
    *
    * Scale shape: windows emit in-row from the token array (amplification
    * = tokens per doc, the txt_decontam/txt_chunks pattern, no window
    * function); the only wide ops are the groupBy on the window hash
    * (map-side combined) and the join of occurrences back to the
    * repeated-hash table, both keyed on wh. Suffix arrays find arbitrary-
    * length repeats; fixed k ≈ the paper's 50-token threshold finds every
    * repeat of length ≥ k as a run of hits, which is what the cut pass
    * consumes anyway. */
  def repeatedSpanOccurrences(docs: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    require(k >= 2, s"window must cover at least 2 tokens, got $k")
    val occ = docs
      .select(col(idCol).as("doc_id"),
        TextAnalysis.rawTokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= k)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(t) - ${k - 1}),
            i -> struct(i - 1 AS pos, md5(array_join(slice(t, i, $k), ' ')) AS wh))"""))
        .as("w"))
      .select(col("doc_id"), col("w.pos").as("pos"), col("w.wh").as("wh"))
    val rep = occ.groupBy("wh").agg(
        countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .filter(col("n_docs") >= 2)
    occ.join(rep, "wh")
      .select(col("wh"), col("doc_id"), col("pos"), col("n_docs"),
        col("n_occ"),
        (col("doc_id") === col("first.doc_id") &&
          col("pos") === col("first.pos")).as("is_first"))
  }

  /** The CUT pass over [[repeatedSpanOccurrences]] — Lee et al. 2022's
    * actual output is the CLEANED corpus, not an occurrence list: every
    * non-first occurrence window is spliced out of its document.
    * Overlapping and adjacent cut windows merge into maximal spans (the
    * island step) purely as a side effect of working at token
    * granularity: the removed set is the UNION of covered token
    * positions, and `n_spans` counts its contiguous runs.
    *
    * Returns one row per input document:
    * (doc_id, text_clean, n_spans, n_cut) — whitespace-normalized
    * cleaned text (tokens outside every cut window, re-joined), the
    * number of maximal cut spans, and the number of tokens removed.
    * Uncut documents pass through with n_spans = n_cut = 0.
    *
    * Scale shape: one extra shuffle beyond the occurrence pass — the
    * groupBy(doc_id) that assembles each document's covered-position
    * set (bounded by the doc's own token count, assembled in-row:
    * flatten + distinct + sort after a map-side-combinable collect).
    * The splice itself is a per-row filter over the token array — no
    * window function, no driver involvement. Known caveat (as in the
    * paper): splicing can form NEW k-windows across cut boundaries;
    * a second pass converges in practice. */
  def cutRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val covered = repeatedSpanOccurrences(docs, idCol, textCol, k)
      .filter(!col("is_first"))
      .groupBy("doc_id")
      .agg(sort_array(array_distinct(flatten(collect_list(
        sequence(col("pos"), col("pos") + (k - 1)))))).as("cov"))
    docs
      .select(col(idCol).as("doc_id"),
        TextAnalysis.rawTokens(col(textCol)).as("t"))
      .join(covered, Seq("doc_id"), "left")
      .withColumn("cov", coalesce(col("cov"), expr("array()").cast("array<int>")))
      // maximal covered spans straight off the SORTED distinct cov via
      // adjacent-pair diffs — O(|cov|). The previous form probed
      // array_contains(cov, ·) once per token and once per covered
      // position, making a heavily-cut doc (the dedup target!)
      // O(|t|·|cov|) — quadratic exactly where the operator does its
      // real work.
      .withColumn("starts", expr(
        """IF(size(cov) = 0, CAST(array() AS ARRAY<INT>),
           concat(array(cov[0]),
             filter(zip_with(slice(cov, 2, size(cov)),
                             slice(cov, 1, size(cov) - 1),
                             (c, p) -> IF(c - p > 1, c, CAST(NULL AS INT))),
                    x -> x IS NOT NULL)))"""))
      .withColumn("ends", expr( // exclusive ends, aligned with starts
        """IF(size(cov) = 0, CAST(array() AS ARRAY<INT>),
           concat(filter(zip_with(slice(cov, 2, size(cov)),
                                  slice(cov, 1, size(cov) - 1),
                                  (c, p) -> IF(c - p > 1, p + 1, CAST(NULL AS INT))),
                         x -> x IS NOT NULL),
             array(cov[size(cov) - 1] + 1)))"""))
      .select(col("doc_id"),
        // kept text = the complement segments [0,s1) ∪ [e1,s2) ∪ … ∪
        // [ek,|t|), each sliced out of the token array — linear in the
        // doc length
        expr("""array_join(
            flatten(zip_with(concat(array(0), ends),
                             concat(starts, array(size(t))),
                             (a, b) -> slice(t, a + 1, b - a))), ' ')""")
          .as("text_clean"),
        size(col("starts")).cast("long").as("n_spans"),
        size(col("cov")).cast("long").as("n_cut"))
  }
}
