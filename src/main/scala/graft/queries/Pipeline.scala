package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Audio, Dedup, EvalOnce, Multimodal, Similarity, TextAnalysis}
import Q._

/** LLM-training-data pipeline operators as verifiable queries:
  * deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard /
  * embedding-cosine), similarity search (brute-force + LSH ANN),
  * text analysis, multimodal metadata extraction.
  *
  * Oracle SQL for the hash-based operators is *generated* from the same
  * Scala constants the Spark plans use (MinHash coefficients, LSH plane
  * vectors), so both engines compute literally the same arithmetic.
  */
object Pipeline {

  // ---- shared oracle fragments -------------------------------------------

  /** DuckDB twin of Dedup.hash56: md5_number_lower is the little-endian
    * uint64 of md5 bytes 8..15; mod 2^56 drops byte 15, matching the
    * byte-reversed conv() in Spark. */
  private def h56(x: String) =
    s"((md5_number_lower($x) % ${Dedup.M56})::BIGINT)"
  private def h31(x: String) = s"(${h56(x)} % ${Dedup.P})"

  private val shinglesSql =
    "list_distinct(list_transform(generate_series(1, greatest(length(text)-4, 1)), i -> substring(text, i, 5)))"

  private def jaccardSql(a: String, b: String) =
    s"(CAST(len(list_intersect($a, $b)) AS DOUBLE) / " +
      s"CAST(len($a) + len($b) - len(list_intersect($a, $b)) AS DOUBLE))"

  /** DuckDB twin of Similarity.dot on two indexable double lists. */
  private def dotSql(a: String, b: String, dims: Int = 64) =
    s"list_reduce(list_transform(generate_series(1, $dims), i -> $a[i] * $b[i]), (x, y) -> x + y)"

  // ---- dedup --------------------------------------------------------------

  /** Exact dedup by content hash. The corpus has no byte-identical dups,
    * so collisions are synthesized (docs 0..99 re-appended under new
    * ids, offset 10^9 — far beyond any scale factor's id range, so a
    * synthetic id can never collide with a real document's);
    * representative = lowest id, with copy count. */
  val ddExact = Q(
    "dd_exact",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents").select("doc_id", "text")
      val dup = d.filter(col("doc_id") < 100)
        .withColumn("doc_id", col("doc_id") + 1000000000L)
      d.union(dup)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
    },
    Some("""WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000000, text FROM documents WHERE doc_id < 100)
      SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        count(*) AS n_copies
      FROM all_docs GROUP BY 1"""))

  /** MinHash + LSH near-dup pairs (k=16 components, 4 bands × 4 rows,
    * verified at Jaccard ≥ 0.5 over hashed char 5-gram shingle sets —
    * band geometry rationale in Dedup.minhashPairs). */
  /** CTE chain computing the MinHash+LSH pair list in DuckDB — generated
    * from the same constants as Dedup.minhashPairs; shared by the pairs
    * query and the components query built on top of it. */
  private def minhashCtes: String = minhashCtesOver("documents")

  /** Same CTE chain over an arbitrary (doc_id, text) base relation —
    * corpus_curate runs it over the exact-dedup survivors. */
  private def minhashCtesOver(base: String): String = {
    val mhCols = (0 until 16).map { j =>
      s"list_min(list_transform(hs, h -> (${Dedup.minhashA(j)} * h + ${Dedup.minhashB(j)}) % ${Dedup.P})) AS mh$j"
    }.mkString(",\n          ")
    val bandSelects = (0 until 4).map { b =>
      val hs = (0 until 4).map(r => s"mh${4 * b + r} AS h$r").mkString(", ")
      s"SELECT doc_id, $b AS band, $hs FROM sig"
    }.mkString("\n        UNION ALL ")
    s"""sh AS (
        SELECT doc_id, $shinglesSql AS sset FROM $base),
      hashed AS (
        SELECT doc_id, list_distinct(list_transform(sset, t -> ${h31("t")})) AS hs
        FROM sh),
      sig AS (
        SELECT doc_id, hs,
          $mhCols
        FROM hashed),
      buckets AS (
        $bandSelects),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.h0 = b.h0 AND a.h1 = b.h1
          AND a.h2 = b.h2 AND a.h3 = b.h3
          AND a.doc_id < b.doc_id),
      mh_pairs AS (
        SELECT c.id_a, c.id_b, ${jaccardSql("x.hs", "y.hs")} AS jaccard
        FROM cand c
        JOIN sig x ON x.doc_id = c.id_a
        JOIN sig y ON y.doc_id = c.id_b
        WHERE ${jaccardSql("x.hs", "y.hs")} >= 0.5)"""
  }

  val ddMinhash = Q(
    "dd_minhash_lsh",
    (s, dir) => Dedup.minhashPairs(
      Tables.load(s, dir, "documents"), "doc_id", "text",
      n = 5, k = 16, bands = 4, threshold = 0.5),
    Some(s"""WITH $minhashCtes
      SELECT id_a, id_b, jaccard FROM mh_pairs"""))

  /** Near-dup pairs → dedup clusters: connected components (min-label)
    * over the MinHash pair list, then the canonical-survivor view — the
    * step that collapses a~b, b~c chains to one kept doc. The oracle
    * computes the same components via a recursive transitive closure. */
  val ddComponents = Q(
    "dd_components",
    (s, dir) => {
      val pairs = Dedup.minhashPairs(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        n = 5, k = 16, bands = 4, threshold = 0.5)
        .select("id_a", "id_b")
      Dedup.canonicalClusters(Dedup.connectedComponents(pairs))
    },
    Some(s"""WITH RECURSIVE $minhashCtes,
      und AS (
        SELECT id_a AS a, id_b AS b FROM mh_pairs
        UNION SELECT id_b, id_a FROM mh_pairs),
      reach(a, b) AS (
        SELECT a, b FROM und
        UNION
        SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
      comp AS (
        SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a)
      SELECT component, count(*) AS n_docs,
        string_agg(id, ',' ORDER BY id) AS members
      FROM comp GROUP BY 1"""))

  /** Leakage-free split (Dedup.leakFreeSplit): train/val/test assignment
    * keyed on the near-dup component representative, so a held-out set
    * can never contain a near-copy of a training document — txt_split's
    * per-doc hash has exactly that leak whenever a dup pair's ids hash
    * apart. Emits per-split doc and group counts (the stratification
    * check), plus how many docs the guard actually grouped. */
  val txtSplitLeakfree = Q(
    "txt_split_leakfree",
    (s, dir) => Dedup.leakFreeSplit(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        n = 5, k = 16, bands = 4, threshold = 0.5)
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("rep").as("n_groups"),
        sum(when(col("doc_id") =!= col("rep"), 1L).otherwise(0L))
          .as("n_regrouped"))
      .orderBy("split"),
    Some(s"""WITH RECURSIVE $minhashCtes,
      und AS (
        SELECT id_a AS a, id_b AS b FROM mh_pairs
        UNION SELECT id_b, id_a FROM mh_pairs),
      reach(a, b) AS (
        SELECT a, b FROM und
        UNION
        SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
      comp AS (
        SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a),
      rep AS (
        SELECT d.doc_id, coalesce(c.component, d.doc_id) AS rep
        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
      assigned AS (
        SELECT doc_id, rep,
          CASE WHEN bucket < 90 THEN 'train'
               WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
        FROM (SELECT doc_id, rep,
          ${h56("CAST(rep AS VARCHAR)")} % 100 AS bucket FROM rep))
      SELECT split, count(*) AS n_docs, count(DISTINCT rep) AS n_groups,
        CAST(sum(CASE WHEN doc_id <> rep THEN 1 ELSE 0 END) AS BIGINT)
          AS n_regrouped
      FROM assigned GROUP BY split ORDER BY split"""))

  /** Contrastive training pairs for a LEARNED dedup/similarity model —
    * the labeled data a neural reranker trains on once rule-based dedup
    * plateaus: positives = the verified MinHash near-dup pairs
    * (label 1), negatives = deterministic pseudo-random pairs of
    * hash-adjacent documents (consecutive ranks of the epoch-0 shuffle
    * order, paired off — uniform-ish, reproducible, no rand()), any
    * accidental positive collision removed by anti-join (label 0).
    * Negative sampling is the standard 1-per-2-docs rate; re-running
    * yields byte-identical pairs, which makes the training set itself
    * versionable. Scale shape: positives are the banded equi-join;
    * negatives are one global rank (range-sort + zipWithIndex, no
    * global window) and one groupBy on pair ordinal. */
  val txtContrastivePairs = Q(
    "txt_contrastive_pairs",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      // pos feeds both the output union and the negative anti-join —
      // cache the (tiny) verified pair list so the banded candidate
      // join runs once, not twice; registered as a scratch cache
      // (released between queries, never leaked)
      val pos = graft.operators.Scratch.cacheOnce(
        Dedup.minhashPairs(docs, "doc_id", "text",
            n = 5, k = 16, bands = 4, threshold = 0.5)
          .select(col("id_a"), col("id_b"), lit(1L).as("label")))
      val neg = graft.operators.Align.epochShuffle(
          docs.select("doc_id"), "doc_id", epoch = 0, posName = "pos")
        .withColumn("pair", expr("(pos - 1) div 2"))
        .groupBy("pair")
        .agg(min("doc_id").as("id_a"), max("doc_id").as("id_b"),
          count(lit(1)).as("n"))
        .filter(col("n") === 2)
        .select(col("id_a"), col("id_b"), lit(0L).as("label"))
        .join(pos.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_anti")
      pos.unionByName(neg)
    },
    Some(s"""WITH $minhashCtes,
      pos AS (SELECT id_a, id_b FROM mh_pairs),
      r AS (
        SELECT doc_id, row_number() OVER (
          ORDER BY ((md5_number_lower(CONCAT('0:', CAST(doc_id AS VARCHAR)))
            % ${Dedup.M56})::BIGINT), doc_id) AS pos
        FROM documents),
      p AS (
        SELECT (pos - 1) // 2 AS pair, min(doc_id) AS id_a,
          max(doc_id) AS id_b, count(*) AS n
        FROM r GROUP BY 1),
      neg AS (
        SELECT p.id_a, p.id_b FROM p
        WHERE n = 2 AND NOT EXISTS (
          SELECT 1 FROM pos WHERE pos.id_a = p.id_a AND pos.id_b = p.id_b))
      SELECT id_a, id_b, CAST(1 AS BIGINT) AS label FROM pos
      UNION ALL
      SELECT id_a, id_b, CAST(0 AS BIGINT) AS label FROM neg"""))

  /** dd_components with the survivor rule production curation actually
    * uses: keep the LONGEST member of each near-dup cluster (highest
    * token count, ties to smallest id), not the smallest id —
    * Dedup.bestPerCluster over the same connected components. The
    * oracle chains the recursive closure into a per-component argmax. */
  val ddComponentsBest = Q(
    "dd_components_best",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
        n = 5, k = 16, bands = 4, threshold = 0.5).select("id_a", "id_b")
      val scores = docs.select(col("doc_id"),
        size(TextAnalysis.rawTokens(col("text"))).cast("long").as("n_tokens"))
      Dedup.bestPerCluster(Dedup.connectedComponents(pairs), scores,
        "doc_id", "n_tokens")
    },
    Some(s"""WITH RECURSIVE $minhashCtes,
      und AS (
        SELECT id_a AS a, id_b AS b FROM mh_pairs
        UNION SELECT id_b, id_a FROM mh_pairs),
      reach(a, b) AS (
        SELECT a, b FROM und
        UNION
        SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
      comp AS (
        SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a),
      scored AS (
        SELECT c.id, c.component,
          CAST(len(string_split_regex(lower(trim(d.text)), '\\s+')) AS BIGINT)
            AS sc
        FROM comp c JOIN documents d ON d.doc_id = c.id),
      best AS (
        SELECT component, id, sc,
          row_number() OVER (PARTITION BY component ORDER BY sc DESC, id) AS rn
        FROM scored),
      sizes AS (
        SELECT component, count(*) AS n_docs FROM scored GROUP BY component)
      SELECT b.component, b.id AS keep_id, b.sc AS best_score, s.n_docs
      FROM best b JOIN sizes s USING (component)
      WHERE b.rn = 1"""))

  /** INCREMENTAL component maintenance (Dedup.applyComponentDelta): the
    * stored labels are built from pairs wholly inside the existing
    * corpus (doc_id % 10 ≠ 0); the batch's pairs (≥1 new endpoint) fold
    * in via supernode contraction — CC runs only on the ∝-batch
    * contracted graph, then one broadcast remap pass over stored labels.
    * The oracle is the FULL from-scratch clustering over all pairs, so
    * every merge path (new↔new island, new doc bridging two old
    * components, redundant old↔old pair) is hash-checked against
    * rebuild — the maintained store is never allowed to drift. */
  val ddComponentsInc = Q(
    "dd_components_inc",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      // one eager materialization: the base filter and the delta filter
      // below would otherwise each re-run the whole shingle/LSH chain
      val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
        n = 5, k = 16, bands = 4, threshold = 0.5).select("id_a", "id_b")
        .localCheckpoint()
      val isNew = (c: String) => col(c) % 10 === 0
      val stored = Dedup.connectedComponents(
        pairs.filter(!isNew("id_a") && !isNew("id_b")))
      val delta = pairs.filter(isNew("id_a") || isNew("id_b"))
      Dedup.canonicalClusters(Dedup.applyComponentDelta(stored, delta))
    },
    Some(s"""WITH RECURSIVE $minhashCtes,
      und AS (
        SELECT id_a AS a, id_b AS b FROM mh_pairs
        UNION SELECT id_b, id_a FROM mh_pairs),
      reach(a, b) AS (
        SELECT a, b FROM und
        UNION
        SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
      comp AS (
        SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a)
      SELECT component, count(*) AS n_docs,
        string_agg(id, ',' ORDER BY id) AS members
      FROM comp GROUP BY 1"""))

  /** Incremental near-dup: the incoming batch (doc_id % 10 = 0) checked
    * against the already-ingested corpus (the rest) — candidates share a
    * band bucket ACROSS sides only, so per-batch cost scales with the
    * batch while existing×existing pairs are never recomputed
    * (Dedup.incrementalNearDups). */
  val ddIncremental = Q(
    "dd_incremental",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.incrementalNearDups(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", n = 5, k = 16, bands = 4, threshold = 0.5)
    },
    Some(s"""WITH $minhashCtes,
      cross_cand AS (
        SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS dup_of
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.h0 = b.h0 AND a.h1 = b.h1
          AND a.h2 = b.h2 AND a.h3 = b.h3
        WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0)
      SELECT c.new_id, c.dup_of, ${jaccardSql("x.hs", "y.hs")} AS jaccard
      FROM cross_cand c
      JOIN sig x ON x.doc_id = c.new_id
      JOIN sig y ON y.doc_id = c.dup_of
      WHERE ${jaccardSql("x.hs", "y.hs")} >= 0.5"""))

  /** dd_incremental through the STORED-signature path: identical
    * result (same oracle), but the existing side's signatures and
    * hot-capped band buckets are read from bucketed parquet tables
    * written once per JVM (Dedup.incrementalNearDupsStored) — the
    * batch signs only itself and the stored side shuffles nothing.
    * OperatorsSpec pins that a second batch never re-signs the existing
    * corpus. */
  val ddIncStored = Q(
    "dd_inc_stored",
    (s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      def docs = Tables.load(s, dir, "documents")
      Dedup.incrementalNearDupsStored(s,
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", tag = tag,
        n = 5, k = 16, bands = 4, threshold = 0.5)
    },
    Some(s"""WITH $minhashCtes,
      cross_cand AS (
        SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS dup_of
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.h0 = b.h0 AND a.h1 = b.h1
          AND a.h2 = b.h2 AND a.h3 = b.h3
        WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0)
      SELECT c.new_id, c.dup_of, ${jaccardSql("x.hs", "y.hs")} AS jaccard
      FROM cross_cand c
      JOIN sig x ON x.doc_id = c.new_id
      JOIN sig y ON y.doc_id = c.dup_of
      WHERE ${jaccardSql("x.hs", "y.hs")} >= 0.5"""))

  /** Paragraph-level near-dup — the standard corpus granularity: a doc
    * that quotes one paragraph of another is invisible to doc-level LSH
    * (whole-doc Jaccard is diluted below any useful threshold), so
    * curation pipelines dedup at paragraph grain. The corpus has no
    * newline paragraph marks, so "paragraph" = non-overlapping 25-token
    * window (same rawTokens stream txt_chunks slices); each window gets a
    * composite id doc_id·2^20+idx (20 bits of paragraph ordinal — a
    * 26M-token document still fits, and 2^43 documents remain
    * addressable) and flows through the SAME Dedup.minhashPairs
    * machinery as dd_minhash_lsh. Cross-document pairs only —
    * in-document repetition is txt_repetition's job.
    *
    * Scale shape: the explode multiplies rows by docLen/25 but the
    * per-row text shrinks by the same factor — total shingle volume is
    * unchanged, and everything downstream stays the same banded
    * equi-join with the hot-bucket cap. */
  val ddParagraph = Q(
    "dd_paragraph",
    (s, dir) => {
      val paras = Tables.load(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.rawTokens(col("text")).as("w"))
        .select(col("doc_id"), posexplode(expr(
          """transform(sequence(0, CAST((size(w) - 1) DIV 25 AS INT)),
             i -> concat_ws(' ', slice(w, i * 25 + 1, 25)))""")))
        .select((col("doc_id") * 1048576 + col("pos")).as("pid"),
          col("col").as("para"))
      Dedup.minhashPairs(paras, "pid", "para",
          n = 5, k = 16, bands = 4, threshold = 0.5)
        .filter(expr("id_a DIV 1048576") =!= expr("id_b DIV 1048576"))
        .select(expr("id_a DIV 1048576").as("doc_a"),
          (col("id_a") % 1048576).as("para_a"),
          expr("id_b DIV 1048576").as("doc_b"),
          (col("id_b") % 1048576).as("para_b"),
          col("jaccard"))
    },
    Some(s"""WITH toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
        FROM documents),
      paras AS (
        SELECT doc_id * 1048576 + i AS doc_id,
          array_to_string(w[i*25+1 : i*25+25], ' ') AS text
        FROM toks, LATERAL (
          SELECT unnest(generate_series(0, (len(w) - 1) // 25)) AS i)),
      ${minhashCtesOver("paras")}
      SELECT id_a // 1048576 AS doc_a, id_a % 1048576 AS para_a,
        id_b // 1048576 AS doc_b, id_b % 1048576 AS para_b, jaccard
      FROM mh_pairs WHERE id_a // 1048576 <> id_b // 1048576"""))

  /** EXACT Jaccard pairs over the WHOLE corpus via the prefix-filter
    * set-similarity join (Dedup.jaccardPrefixPairs) — the blocking scheme
    * that retires the quadratic baseline's id-cap: zero false negatives
    * at the threshold by the prefix theorem, never an all-pairs product.
    * The oracle mirrors the same algorithm (frequency-ordered prefixes),
    * so it stays bounded at every scale factor; equivalence to the
    * brute-force answer is pinned separately by a spec at test scale.
    *
    * Corpus caveat, measured: prefix filtering needs a RARITY TAIL to
    * prune with — on a natural Zipfian corpus most prefixes are near-
    * unique shingles. This synthetic corpus shares one small vocabulary,
    * so even the "rarest" shingles occur in hundreds of documents and
    * candidates stay near-quadratic at any threshold (minutes at sf0.1).
    * The demo query is therefore pinned to the same deterministic
    * doc_id < 1000 subset as the brute-force baseline, while the
    * PRODUCTION near-dup path on vocabulary-dense data remains MinHash
    * LSH (dd_minhash_lsh) — signatures prune by similarity itself, not
    * by shingle rarity. Threshold 0.8 = every planted near-dup. */
  val ddJaccardPrefix = Q(
    "dd_jaccard_prefix",
    (s, dir) => Dedup.jaccardPrefixPairs(
      Tables.load(s, dir, "documents").filter(col("doc_id") < 1000),
      "doc_id", "text", n = 5, threshold = 0.8),
    Some(s"""WITH docs AS (
        SELECT doc_id,
          list_distinct(list_transform($shinglesSql, t -> ${h31("t")})) AS hs
        FROM documents WHERE doc_id < 1000),
      sized AS (SELECT doc_id, hs, len(hs) AS sz FROM docs),
      expl AS (SELECT doc_id, sz, unnest(hs) AS sh FROM sized),
      freq AS (SELECT sh, count(*) AS df FROM expl GROUP BY 1),
      ranked AS (
        SELECT e.doc_id, e.sz, e.sh,
          row_number() OVER (PARTITION BY e.doc_id ORDER BY f.df, e.sh) AS pos
        FROM expl e JOIN freq f USING (sh)),
      prefix AS (
        SELECT doc_id, sh FROM ranked
        WHERE pos <= sz - ((800000 * CAST(sz AS BIGINT) + 999999) // 1000000) + 1),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM prefix a JOIN prefix b
          ON a.sh = b.sh AND a.doc_id < b.doc_id)
      SELECT c.id_a, c.id_b, ${jaccardSql("x.hs", "y.hs")} AS jaccard
      FROM cand c
      JOIN sized x ON x.doc_id = c.id_a
      JOIN sized y ON y.doc_id = c.id_b
      WHERE ${jaccardSql("x.hs", "y.hs")} >= 0.8"""))

  /** ASYMMETRIC CONTAINMENT pairs (Dedup.containmentPairs — Broder
    * 1997's inclusion measure |A∩B|/|A|): the quote/truncation
    * detector Jaccard structurally misses — a doc cut to 60% of its
    * original is only ~0.6 Jaccard-similar to it (below any sane
    * near-dup threshold) but 1.0 CONTAINED in it. The corpus has no
    * planted truncations, so the instrument synthesizes them the
    * ddExact way: docs 0..49 re-appear id-offset 10⁹ with text cut to
    * ⌊3·len/5⌋ chars (integer division — both engines cut the same
    * byte). Every synthesized row must surface as contained in its
    * source at t=0.9; anything else the prefix filter finds (shared-
    * vocabulary docs swallowing short docs) is corpus truth the oracle
    * replays. Pinned to doc_id < 300 — tighter than the prefix×prefix
    * baselines because the container side indexes ALL its shingles
    * (no symmetric pruning exists for containment), so this corpus's
    * missing rarity tail bites quadratically harder here (measured:
    * the <1000 pin cost 10.5 s at sf0.1; <300 is ~1 s with the same
    * planted-truncation contract). */
  val ddContainment = Q(
    "dd_containment",
    (s, dir) => {
      val base = Tables.load(s, dir, "documents")
        .filter(col("doc_id") < 300).select("doc_id", "text")
      val trunc = base.filter(col("doc_id") < 50)
        .select((col("doc_id") + 1000000000L).as("doc_id"),
          expr("substring(text, 1, CAST(length(text) * 3 DIV 5 AS INT))")
            .as("text"))
      Q.sortOnce(Dedup.containmentPairs(base.unionByName(trunc), "doc_id",
          "text", n = 5, threshold = 0.9),
        col("id_a"), col("id_b"))
    },
    Some(s"""WITH base AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 300),
      corpus AS (
        SELECT doc_id, text FROM base
        UNION ALL
        SELECT doc_id + 1000000000,
          substring(text, 1, CAST(length(text) * 3 // 5 AS INTEGER))
        FROM base WHERE doc_id < 50),
      docs AS (
        SELECT doc_id,
          list_distinct(list_transform($shinglesSql, t -> ${h31("t")})) AS hs
        FROM corpus),
      sized AS (SELECT doc_id, hs, len(hs) AS sz FROM docs),
      expl AS (SELECT doc_id, sz, unnest(hs) AS sh FROM sized),
      freq AS (SELECT sh, count(*) AS df FROM expl GROUP BY 1),
      ranked AS (
        SELECT e.doc_id, e.sz, e.sh,
          row_number() OVER (PARTITION BY e.doc_id ORDER BY f.df, e.sh) AS pos
        FROM expl e JOIN freq f USING (sh)),
      prefix AS (
        SELECT doc_id, sh FROM ranked
        WHERE pos <= sz - ((900000 * CAST(sz AS BIGINT) + 999999) // 1000000) + 1),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM prefix a JOIN expl b
          ON a.sh = b.sh AND a.doc_id <> b.doc_id)
      SELECT c.id_a, c.id_b,
        CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
          / CAST(len(x.hs) AS DOUBLE) AS containment
      FROM cand c
      JOIN sized x ON x.doc_id = c.id_a
      JOIN sized y ON y.doc_id = c.id_b
      WHERE CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
          / CAST(len(x.hs) AS DOUBLE) >= 0.9
      ORDER BY id_a, id_b"""))

  /** CONTAINMENT AT CORPUS SCALE (Dedup.containmentPairsLsh) — the
    * production path the exact instrument (dd_containment) defers to on
    * vocabulary-dense data: MinHash-LSH banded candidates (2-row bands,
    * 8 chances — collision ∝ J² per band, and a 0.9-contained pair's
    * Jaccard ≥ ~|A|/|B| clears the corpus's ~0.05 random-pair floor),
    * then EXACT asymmetric verification of both directions per
    * candidate. Runs over the FULL document table plus the same
    * planted-truncation synthesis as dd_containment (every 100th doc
    * re-appears id-offset 10⁹, text cut to ⌊3·len/5⌋): all planted
    * truncations must surface (banding recall is deterministic — the
    * oracle deals the identical permutations — and pinned in
    * OperatorsSpec). Candidates are similarity-pruned, not
    * rarity-pruned, so the stage stays an equi-join with capped
    * buckets at any vocabulary density. */
  val ddContainmentLsh = Q(
    "dd_containment_lsh",
    (s, dir) => {
      val base = Tables.load(s, dir, "documents").select("doc_id", "text")
      val trunc = base.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + 1000000000L).as("doc_id"),
          expr("substring(text, 1, CAST(length(text) * 3 DIV 5 AS INT))")
            .as("text"))
      // maxBucketSize = 1000: MIRRORED in the oracle's hot/kept CTEs,
      // so Spark == oracle exactly at ANY scale factor — equality no
      // longer rests on the cap happening not to bind (largest sf0.1
      // bucket measures 699; a datagen change can move that). At sf1+
      // the cap is the documented boilerplate-bucket trade (measured:
      // 131M uncapped candidate rows vs 35M capped — the corpus's
      // missing rarity tail makes similarity-floor collisions
      // quadratic, and a bucket past 1000 members is corpus-common
      // band noise, not containment evidence).
      // bandDfPct = 20: ALSO mirrored (the freq/common/fdocs CTEs) —
      // shingles in >20% of docs leave the MinHash input, which is
      // where this corpus's background similarity lives (measured at
      // sf0.1: banded candidates 1.34M → 269k with every planted
      // truncation still surfacing; the sf1 verify stage was 2× the
      // whole scaling set before this landed). Verification still
      // runs on the FULL sets, so surfaced values are exact.
      Q.sortOnce(
        Dedup.containmentPairsLsh(base.unionByName(trunc), "doc_id", "text",
          n = 5, k = 16, bands = 8, threshold = 0.9, maxBucketSize = 1000,
          bandDfPct = 20),
        col("contained"), col("container"))
    },
    Some {
      // mh over fhs (the df-capped banding input), never hs: the
      // banding-vocabulary filter must deal the same permutations over
      // the same filtered sets in both engines
      val mhCols = (0 until 16).map { j =>
        s"list_min(list_transform(fhs, h -> (${Dedup.minhashA(j)} * h + ${Dedup.minhashB(j)}) % ${Dedup.P})) AS mh$j"
      }.mkString(",\n          ")
      val bandSelects = (0 until 8).map { b =>
        s"SELECT doc_id, $b AS band, mh${2 * b} AS h0, mh${2 * b + 1} AS h1 FROM sig"
      }.mkString("\n        UNION ALL ")
      s"""WITH base AS (SELECT doc_id, text FROM documents),
      corpus AS (
        SELECT doc_id, text FROM base
        UNION ALL
        SELECT doc_id + 1000000000,
          substring(text, 1, CAST(length(text) * 3 // 5 AS INTEGER))
        FROM base WHERE doc_id % 100 = 0),
      sh AS (SELECT doc_id, $shinglesSql AS sset FROM corpus),
      hashed AS (
        SELECT doc_id, list_distinct(list_transform(sset, t -> ${h31("t")})) AS hs
        FROM sh),
      expl AS (SELECT doc_id, unnest(hs) AS s FROM hashed),
      freq AS (SELECT s, count(*) AS cdf FROM expl GROUP BY s),
      common AS (
        SELECT s FROM freq
        WHERE cdf > (SELECT count(*) * 20 // 100 FROM hashed)),
      fdocs AS (
        SELECT e.doc_id, list(e.s) AS fhs FROM expl e
        ANTI JOIN common c ON e.s = c.s
        GROUP BY e.doc_id),
      sig AS (
        SELECT h.doc_id, h.hs,
          $mhCols
        FROM hashed h JOIN fdocs f USING (doc_id)),
      buckets AS (
        $bandSelects),
      hot AS (
        SELECT band, h0, h1 FROM buckets
        GROUP BY band, h0, h1 HAVING count(*) > 1000),
      kept AS (
        SELECT b.* FROM buckets b
        ANTI JOIN hot h
          ON b.band = h.band AND b.h0 = h.h0 AND b.h1 = h.h1),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM kept a JOIN kept b
          ON a.band = b.band AND a.h0 = b.h0 AND a.h1 = b.h1
          AND a.doc_id < b.doc_id),
      scored AS (
        SELECT c.id_a, c.id_b,
          len(list_intersect(x.hs, y.hs)) AS inter,
          len(x.hs) AS sz_a, len(y.hs) AS sz_b
        FROM cand c
        JOIN sig x ON x.doc_id = c.id_a
        JOIN sig y ON y.doc_id = c.id_b),
      bidir AS (
        SELECT id_a AS contained, id_b AS container,
          CAST(inter AS DOUBLE) / CAST(sz_a AS DOUBLE) AS containment
        FROM scored
        UNION ALL
        SELECT id_b, id_a,
          CAST(inter AS DOUBLE) / CAST(sz_b AS DOUBLE)
        FROM scored)
      SELECT contained, container, containment FROM bidir
      WHERE containment >= 0.9
      ORDER BY contained, container"""
    })

  /** SimHash near-dup pairs: 32-bit signatures over char 5-gram shingles
    * (word tokens collapse here — every doc shares one small vocabulary,
    * so token-level signatures collide massively), pairs at Hamming ≤ 4
    * via bit-chunk bucket join (Dedup.simhashPairs). The pigeonhole
    * guarantee makes the chunked join EXACTLY equal to an all-pairs
    * scan, so the oracle below stays the straightforward quadratic SQL. */
  val ddSimhash = Q(
    "dd_simhash",
    (s, dir) => {
      val sig = Tables.load(s, dir, "documents")
        .select(col("doc_id").as("id"),
          Dedup.simhash32(Dedup.charShingles(col("text"), 5)).as("simhash"))
      Dedup.simhashPairs(sig, maxHamming = 4)
        .select(col("id_a"), col("id_b"), col("hamming"))
    }, {
      val bits = (0 until 32).map { i =>
        s"(CASE WHEN list_sum(list_transform(hs, v -> CASE WHEN (v >> $i) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      Some(s"""WITH tok AS (
        SELECT doc_id, $shinglesSql AS t FROM documents),
      hashed AS (
        SELECT doc_id, list_transform(t, x -> ${h56("x")}) AS hs FROM tok),
      sh AS (
        SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM hashed)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 4""")
    })

  /** Exact n-gram Jaccard near-dup pairs — the ground truth the LSH
    * variants approximate. All-pairs is O(N²) by definition, so the
    * baseline is pinned to a deterministic id-subset (doc_id < 1000 —
    * the whole corpus at verify scale, bounded at every larger scale);
    * the production near-dup path is dd_minhash_lsh. */
  val ddNgram = Q(
    "dd_ngram_jaccard",
    (s, dir) => {
      val sh = Tables.load(s, dir, "documents")
        .filter(col("doc_id") < 1000)
        .select(col("doc_id"), Dedup.charShingles(col("text"), 5).as("sset"))
      // EvalOnce: one array_intersect per pair, never inside the
      // nested-loop join's condition
      sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
        .withColumn("jaccard",
          EvalOnce(Dedup.jaccard(col("a.sset"), col("b.sset"))))
        .filter(col("jaccard") >= 0.5)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          col("jaccard"))
    },
    Some(s"""WITH sh AS (
        SELECT doc_id, $shinglesSql AS sset FROM documents WHERE doc_id < 1000)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        ${jaccardSql("a.sset", "b.sset")} AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE ${jaccardSql("a.sset", "b.sset")} >= 0.5"""))

  /** Exact-substring dedup (fixed-k restatement of the Lee et al. 2022
    * suffix-array pass): the spans a cut pass would REMOVE — every
    * non-first occurrence of a 15-token window that recurs across ≥2
    * distinct documents. The synthetic corpus has no natural verbatim
    * repeats, so collisions are synthesized exactly like dd_exact's
    * (docs 0..49 re-appended under ids offset by 10^9 — collision-proof
    * at any scale factor): every window of those docs repeats once, and
    * the copy (higher doc_id) is the cut side. */
  val ddSubstring = Q(
    "dd_substring",
    (s, dir) => {
      // loadSpread (guide §2.5): the tokenize + per-window md5 pass is
      // the dominant cost and ran as ONE task per union leg off the
      // single-row-group scan (measured r16)
      val d = Tables.loadSpread(s, dir, "documents", "doc_id")
        .select("doc_id", "text")
      val dup = d.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 1000000000L)
      Dedup.repeatedSpanOccurrences(d.union(dup), "doc_id", "text", k = 15)
        .filter(!col("is_first"))
        .select("wh", "doc_id", "pos", "n_docs", "n_occ")
    },
    Some("""WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000000, text FROM documents WHERE doc_id < 50),
      toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        FROM all_docs),
      occ AS (
        SELECT doc_id, i - 1 AS pos, md5(array_to_string(t[i : i + 14], ' ')) AS wh
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 14)) AS i
              FROM toks WHERE len(t) >= 15)),
      rep AS (
        SELECT wh, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
        FROM occ GROUP BY wh HAVING count(DISTINCT doc_id) >= 2),
      firsts AS (
        SELECT wh, doc_id AS fdoc, pos AS fpos FROM (
          SELECT wh, doc_id, pos,
            row_number() OVER (PARTITION BY wh ORDER BY doc_id, pos) AS rn
          FROM occ) WHERE rn = 1)
      SELECT o.wh, o.doc_id, o.pos, r.n_docs, r.n_occ
      FROM occ o JOIN rep r USING (wh) JOIN firsts f USING (wh)
      WHERE NOT (o.doc_id = f.fdoc AND o.pos = f.fpos)"""))

  /** The dedup family's instrument query (sim_recall's sibling): LSH
    * near-dup pair recall/precision against the exact all-pairs n-gram
    * Jaccard ground truth, on the same bounded id<1000 slice the
    * baseline is pinned to. One row: truth pairs, LSH pairs, hits,
    * recall, precision. The r=4 band geometry trades candidate volume
    * for recall at J near the 0.5 threshold (P[catch] = 1-(1-J^4)^4 ≈
    * 0.23 at J=0.5, ≈0.99 at J=0.9), so borderline pairs are where LSH
    * legitimately misses — this query puts the measured number next to
    * that documented claim. The only divergence source besides banding
    * is hashed-vs-string shingle Jaccard (2^-31 collisions). Measured:
    * recall = precision = 1.0 at both sf0.01 (25 truth pairs) and
    * sf0.1 (7 pairs on the id<1000 slice) — this corpus's natural
    * near-dups all sit at high J where banding is near-certain. */
  val ddLshRecall = Q(
    "dd_lsh_recall",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents").filter(col("doc_id") < 1000)
      val truth = {
        val sh = docs.select(col("doc_id"),
          Dedup.charShingles(col("text"), 5).as("sset"))
        sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
          .withColumn("jaccard", Dedup.jaccard(col("a.sset"), col("b.sset")))
          .filter(col("jaccard") >= 0.5)
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          // truth and lsh each feed multiple legs (semi-join + counts):
          // scratch caches, released between queries
      }
      val truthC = graft.operators.Scratch.cacheOnce(truth)
      val lsh = graft.operators.Scratch.cacheOnce(
        Dedup.minhashPairs(docs, "doc_id", "text",
          n = 5, k = 16, bands = 4, threshold = 0.5)
          .select("id_a", "id_b"))
      val hits = truthC.join(lsh, Seq("id_a", "id_b"), "left_semi")
      truthC.agg(count(lit(1)).as("n_truth")).crossJoin(
          lsh.agg(count(lit(1)).as("n_lsh")))
        .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
        .select(col("n_truth"), col("n_lsh"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_truth").cast("double"))
            .as("recall"),
          (col("n_hit").cast("double") / col("n_lsh").cast("double"))
            .as("precision"))
    },
    Some {
      val truthCtes = s"""tsh AS (
          SELECT doc_id, $shinglesSql AS sset FROM documents WHERE doc_id < 1000),
        truth AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM tsh a JOIN tsh b ON a.doc_id < b.doc_id
          WHERE ${jaccardSql("a.sset", "b.sset")} >= 0.5)"""
      s"""WITH ${minhashCtesOver("(SELECT * FROM documents WHERE doc_id < 1000)")},
        $truthCtes,
        hit AS (
          SELECT t.id_a, t.id_b FROM truth t
          WHERE EXISTS (SELECT 1 FROM mh_pairs p
            WHERE p.id_a = t.id_a AND p.id_b = t.id_b))
        SELECT (SELECT count(*) FROM truth) AS n_truth,
          (SELECT count(*) FROM mh_pairs) AS n_lsh,
          (SELECT count(*) FROM hit) AS n_hit,
          CAST((SELECT count(*) FROM hit) AS DOUBLE)
            / CAST((SELECT count(*) FROM truth) AS DOUBLE) AS recall,
          CAST((SELECT count(*) FROM hit) AS DOUBLE)
            / CAST((SELECT count(*) FROM mh_pairs) AS DOUBLE) AS precision"""
    })

  /** The cut pass completing exact-substring dedup (Lee et al. 2022's
    * actual deliverable): non-first occurrences of cross-document
    * 15-token windows are spliced out of their documents — adjacent/
    * overlapping cut windows merging into maximal spans — and the
    * CLEANED corpus is emitted: (doc_id, text_clean, n_spans, n_cut).
    * Same synthesized collision corpus as dd_substring, so every window
    * of the re-appended copies (ids ≥ 10^9) is cut and those docs clean
    * to (near-)empty text, while the originals keep their first
    * occurrences. The oracle replays the splice relationally: covered
    * positions = cuts × [0,k), islands counted by the
    * predecessor-absent rule, kept tokens re-agg'd in position order. */
  val ddSubstringCut = Q(
    "dd_substring_cut",
    (s, dir) => {
      val d = Tables.loadSpread(s, dir, "documents", "doc_id")
        .select("doc_id", "text")
      val dup = d.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 1000000000L)
      Dedup.cutRepeatedSpans(d.union(dup), "doc_id", "text", k = 15)
    },
    Some("""WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000000, text FROM documents WHERE doc_id < 50),
      toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        FROM all_docs),
      occ AS (
        SELECT doc_id, i - 1 AS pos, md5(array_to_string(t[i : i + 14], ' ')) AS wh
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 14)) AS i
              FROM toks WHERE len(t) >= 15)),
      rep AS (
        SELECT wh FROM occ GROUP BY wh HAVING count(DISTINCT doc_id) >= 2),
      firsts AS (
        SELECT wh, doc_id AS fdoc, pos AS fpos FROM (
          SELECT wh, doc_id, pos,
            row_number() OVER (PARTITION BY wh ORDER BY doc_id, pos) AS rn
          FROM occ) WHERE rn = 1),
      cuts AS (
        SELECT o.doc_id, o.pos
        FROM occ o JOIN rep USING (wh) JOIN firsts f USING (wh)
        WHERE NOT (o.doc_id = f.fdoc AND o.pos = f.fpos)),
      covered AS (
        SELECT DISTINCT doc_id, pos + j AS cov
        FROM cuts, (SELECT unnest(generate_series(0, 14)) AS j) js),
      spans AS (
        SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_spans
        FROM covered c LEFT JOIN covered p
          ON p.doc_id = c.doc_id AND p.cov = c.cov - 1
        WHERE p.cov IS NULL GROUP BY c.doc_id),
      ncut AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cut
        FROM covered GROUP BY doc_id),
      tokpos AS (
        SELECT doc_id, i, t[i] AS tok
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
              FROM toks)),
      kept AS (
        SELECT tp.doc_id, tp.i, tp.tok
        FROM tokpos tp LEFT JOIN covered c
          ON c.doc_id = tp.doc_id AND c.cov = tp.i - 1
        WHERE c.cov IS NULL),
      clean AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text_clean
        FROM kept GROUP BY doc_id)
      SELECT d.doc_id, coalesce(cl.text_clean, '') AS text_clean,
        coalesce(s.n_spans, 0) AS n_spans, coalesce(n.n_cut, 0) AS n_cut
      FROM toks d
      LEFT JOIN clean cl USING (doc_id)
      LEFT JOIN spans s USING (doc_id)
      LEFT JOIN ncut n USING (doc_id)"""))

  /** The convergence instrument for [[ddSubstringCut]]: the cut pass's
    * documented caveat is that splicing can form NEW k-windows across
    * cut boundaries (Lee et al. 2022 note the same of their pass and
    * iterate to convergence). This query measures the residual — the
    * occurrence pass re-run over `text_clean` — so the "converges in
    * practice" claim carries a number instead of a promise. One row:
    * total occurrences of still-cross-document 15-token windows in the
    * cleaned corpus and the count of such distinct windows. Measured 0/0
    * at sf0.01 and sf0.1 (the synthesized collisions are whole-document,
    * so copies clean to empty and nothing can straddle a boundary);
    * a unit test pins the non-zero boundary-splice case and that one
    * more pass drives IT to zero.
    *
    * Scale shape: strictly the two passes it composes — no new wide
    * operator; the final agg is a 1-row global. */
  val ddSubstringResidual = Q(
    "dd_substring_residual",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents").select("doc_id", "text")
      val dup = d.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 1000000000L)
      val cleaned = Dedup.cutRepeatedSpans(d.union(dup), "doc_id", "text", k = 15)
        .select(col("doc_id"), col("text_clean"))
      Dedup.repeatedSpanOccurrences(cleaned, "doc_id", "text_clean", k = 15)
        .agg(count(lit(1)).as("n_residual_occ"),
          countDistinct(col("wh")).as("n_residual_windows"))
    },
    Some("""WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000000, text FROM documents WHERE doc_id < 50),
      toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        FROM all_docs),
      occ AS (
        SELECT doc_id, i - 1 AS pos, md5(array_to_string(t[i : i + 14], ' ')) AS wh
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 14)) AS i
              FROM toks WHERE len(t) >= 15)),
      rep AS (
        SELECT wh FROM occ GROUP BY wh HAVING count(DISTINCT doc_id) >= 2),
      firsts AS (
        SELECT wh, doc_id AS fdoc, pos AS fpos FROM (
          SELECT wh, doc_id, pos,
            row_number() OVER (PARTITION BY wh ORDER BY doc_id, pos) AS rn
          FROM occ) WHERE rn = 1),
      cuts AS (
        SELECT o.doc_id, o.pos
        FROM occ o JOIN rep USING (wh) JOIN firsts f USING (wh)
        WHERE NOT (o.doc_id = f.fdoc AND o.pos = f.fpos)),
      covered AS (
        SELECT DISTINCT doc_id, pos + j AS cov
        FROM cuts, (SELECT unnest(generate_series(0, 14)) AS j) js),
      tokpos AS (
        SELECT doc_id, i, t[i] AS tok
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
              FROM toks)),
      kept AS (
        SELECT tp.doc_id, tp.i, tp.tok
        FROM tokpos tp LEFT JOIN covered c
          ON c.doc_id = tp.doc_id AND c.cov = tp.i - 1
        WHERE c.cov IS NULL),
      clean AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text_clean
        FROM kept GROUP BY doc_id),
      toks2 AS (
        SELECT doc_id,
          string_split_regex(lower(trim(coalesce(text_clean, ''))), '\s+') AS t
        FROM (SELECT d.doc_id, cl.text_clean
              FROM toks d LEFT JOIN clean cl USING (doc_id))),
      occ2 AS (
        SELECT doc_id, i - 1 AS pos, md5(array_to_string(t[i : i + 14], ' ')) AS wh
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 14)) AS i
              FROM toks2 WHERE len(t) >= 15)),
      rep2 AS (
        SELECT wh FROM occ2 GROUP BY wh HAVING count(DISTINCT doc_id) >= 2)
      SELECT CAST(count(*) AS BIGINT) AS n_residual_occ,
        CAST(count(DISTINCT wh) AS BIGINT) AS n_residual_windows
      FROM occ2 JOIN rep2 USING (wh)"""))

  /** Embedding-cosine near-dup pairs at cosine ≥ 0.4 (the corpus has no
    * truly duplicated vectors; 0.4 captures the closest cluster pairs).
    * Pinned to vec_id < 1000 like dd_ngram — exact all-pairs is the
    * baseline, sim_lsh_topk is the scale path. */
  val ddEmbed = Q(
    "dd_embed_cosine",
    (s, dir) => Similarity.cosineNearDupPairs(
      Tables.load(s, dir, "embeddings").filter(col("vec_id") < 1000),
      "vec_id", "embedding", 0.4),
    Some(s"""WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        WHERE vec_id < 1000)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        ${dotSql("a.e", "b.e")} /
          (sqrt(${dotSql("a.e", "a.e")}) * sqrt(${dotSql("b.e", "b.e")})) AS cos
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE ${dotSql("a.e", "b.e")} /
          (sqrt(${dotSql("a.e", "a.e")}) * sqrt(${dotSql("b.e", "b.e")})) >= 0.4"""))

  /** Semantic (embedding-space) dedup at scale: SemDeDup cell blocking —
    * max-cosine coarse-centroid assignment over a FIXED-size codebook
    * (the 32 rows with smallest hash56(vec_id) — KMV-style, so the
    * driver-side collect is k rows regardless of corpus size), then the
    * cosine verify within cells only. Same 0.4 threshold as the bounded
    * dd_embed_cosine baseline for direct comparison. */
  val ddSemantic = Q(
    "dd_semantic",
    (s, dir) => Similarity.semanticDupPairs(
      Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
      k = 32, threshold = 0.4),
    Some {
      def cos(a: String, b: String) =
        s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"
      s"""WITH v AS (
          SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        c AS (SELECT vec_id AS cent_id, e AS ce FROM v
              ORDER BY ${h56("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT 32),
        ass AS (
          SELECT vec_id, e, cent_id,
            row_number() OVER (PARTITION BY vec_id
                               ORDER BY cos_c DESC, cent_id) AS rk
          FROM (SELECT v.vec_id, v.e, c.cent_id, ${cos("v.e", "c.ce")} AS cos_c
                FROM v CROSS JOIN c)),
        cells AS (SELECT vec_id, e, cent_id AS cell FROM ass WHERE rk = 1)
        SELECT cell, id_a, id_b, cos FROM (
          SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
            ${cos("a.e", "b.e")} AS cos
          FROM cells a JOIN cells b
            ON a.cell = b.cell AND a.vec_id < b.vec_id)
        WHERE cos >= 0.4"""
    })

  // ---- similarity search --------------------------------------------------

  /** Brute-force cosine top-5: query vectors (vec_id < 10, broadcast)
    * against all other vectors. */
  val simTopk = Q(
    "sim_topk_bruteforce",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
        "vec_id", "embedding", k = 5)
    },
    Some(s"""WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      s AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
          ${dotSql("q.e", "c.e")} /
            (sqrt(${dotSql("q.e", "q.e")}) * sqrt(${dotSql("c.e", "c.e")})) AS cos
        FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id >= 10)
      SELECT query_id, cand_id, rank, cos FROM (
        SELECT query_id, cand_id, cos,
          row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
        FROM s) WHERE rank <= 5"""))

  /** MIPS top-k via the augmented-cosine reduction
    * (Similarity.mipsTopK, Bachrach et al. 2014): ranked by the
    * one-extra-dimension cosine, with the direct inner product
    * emitted alongside — hash equality on BOTH columns pins that the
    * reduction's ranking is the inner-product ranking. This is what
    * lets the stored cosine ANN family serve recommender dot-product
    * scores without a dedicated MIPS index. */
  val simMips = Q(
    "sim_mips",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.mipsTopK(
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
        "vec_id", "embedding", k = 5)
    },
    Some(s"""WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      m AS (
        SELECT max(${dotSql("e", "e")}) AS m2 FROM v WHERE vec_id >= 10),
      c AS (
        SELECT vec_id AS cand_id, e,
          list_append(e, sqrt(m2 - ${dotSql("e", "e")})) AS ea
        FROM v CROSS JOIN m WHERE vec_id >= 10),
      q AS (
        SELECT vec_id AS query_id, e, list_append(e, 0.0) AS ea
        FROM v WHERE vec_id < 10),
      s AS (
        SELECT q.query_id, c.cand_id,
          ${dotSql("q.e", "c.e")} AS ip,
          ${dotSql("q.ea", "c.ea", 65)} /
            (sqrt(${dotSql("q.ea", "q.ea", 65)})
              * sqrt(${dotSql("c.ea", "c.ea", 65)})) AS cos_aug
        FROM q CROSS JOIN c)
      SELECT query_id, rank, cand_id, ip, cos_aug FROM (
        SELECT query_id, cand_id, ip, cos_aug,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cos_aug DESC, cand_id) AS rank
        FROM s) WHERE rank <= 5
      ORDER BY query_id, rank"""))

  /** HARD-NEGATIVE mining for contrastive training
    * (Similarity.hardNegatives): each query vector's top-5
    * most-similar candidates with a DIFFERENT label — the pairs that
    * carry the gradient in embedding training (random in-batch
    * negatives are mostly easy). Brute truth instrument over the
    * broadcast query set; the corpus-scale path is the same label
    * anti-filter behind the IVF candidate stage. */
  val simHardNegatives = Q(
    "sim_hard_negatives",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.hardNegatives(
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
        "vec_id", "embedding", "label", k = 5)
    },
    Some(s"""WITH v AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
      s AS (
        SELECT q.vec_id AS query_id, q.label AS q_label,
          c.vec_id AS cand_id, c.label AS c_label,
          ${dotSql("q.e", "c.e")} /
            (sqrt(${dotSql("q.e", "q.e")}) * sqrt(${dotSql("c.e", "c.e")})) AS cos
        FROM v q JOIN v c
          ON q.vec_id < 10 AND c.vec_id >= 10 AND q.label <> c.label)
      SELECT query_id, q_label, cand_id, c_label, rank, cos FROM (
        SELECT query_id, q_label, cand_id, c_label, cos,
          row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
        FROM s) WHERE rank <= 5"""))

  /** DuckDB twin of Similarity.signWordExpr — same power-of-two
    * literals, same element order, 32-bit words (the sign bit of a
    * BIGINT is never touched; DuckDB refuses `1::BIGINT << 63`). */
  private def binWordSql(e: String, w: Int): String =
    (0 until 32).map(i =>
      s"(CASE WHEN $e[${32 * w + i + 1}] > 0 THEN ${1L << i} ELSE 0 END)")
      .mkString("(", " + ", ")")

  /** Shared oracle CTE prefix for the binary-quantization pair: packed
    * sign-bit codes and the Hamming-scored query×candidate frame. */
  private val binHammingCtes =
    s"""WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      b AS (
        SELECT vec_id, e, CAST(${binWordSql("e", 0)} AS BIGINT) AS b0,
          CAST(${binWordSql("e", 1)} AS BIGINT) AS b1 FROM v),
      s AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
          q.e AS qe, c.e AS ce,
          CAST(bit_count(xor(q.b0, c.b0)) AS BIGINT) +
            CAST(bit_count(xor(q.b1, c.b1)) AS BIGINT) AS hamming
        FROM b q JOIN b c ON q.vec_id < 10 AND c.vec_id >= 10)"""

  /** Binary-quantized top-5 by Hamming distance over sign-bit codes:
    * the candidate scan reads 2 BIGINT words per row instead of 64
    * floats. */
  val simBinaryHamming = Q(
    "sim_binary_hamming",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.hammingTopK(
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
        "vec_id", "embedding", k = 5, dims = 64)
    },
    Some(s"""$binHammingCtes
      SELECT query_id, cand_id, rank, hamming FROM (
        SELECT query_id, cand_id, hamming,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY hamming, cand_id) AS rank
        FROM s) WHERE rank <= 5"""))

  /** Binary shortlist (Hamming top-50) → exact-cosine rerank top-5: the
    * two-stage binary-quantized serve — float vectors are re-read for
    * the shortlist only. */
  val simBinaryRerank = Q(
    "sim_binary_rerank",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.hammingRerankTopK(
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
        "vec_id", "embedding", k = 5, shortlist = 50, dims = 64)
    },
    Some(s"""$binHammingCtes,
      short AS (
        SELECT query_id, cand_id, qe, ce FROM (
          SELECT query_id, cand_id, qe, ce,
            row_number() OVER (PARTITION BY query_id
                               ORDER BY hamming, cand_id) AS hrk
          FROM s) WHERE hrk <= 50),
      r AS (
        SELECT query_id, cand_id,
          ${dotSql("qe", "ce")} /
            (sqrt(${dotSql("qe", "qe")}) * sqrt(${dotSql("ce", "ce")})) AS cos
        FROM short)
      SELECT query_id, cand_id, rank, cos FROM (
        SELECT query_id, cand_id, cos,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY cos DESC, cand_id) AS rank
        FROM r) WHERE rank <= 5"""))

  /** dims-parameterized cosine — the oracle twin of scoring a SLICED
    * embedding (matryoshka truncation). */
  private def cosSqlD(a: String, b: String, dims: Int) =
    s"(${dotSql(a, b, dims)} / " +
      s"(sqrt(${dotSql(a, a, dims)}) * sqrt(${dotSql(b, b, dims)})))"

  /** Matryoshka truncation with its price tag: truncated top-5 at 32
    * and 16 dims, each leg's recall measured against the full-64-dim
    * truth — the dimension/recall trade-off as one frame. */
  val simMatryoshka = Q(
    "sim_matryoshka",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val c = e.filter(col("vec_id") >= 10)
      val truth = Similarity.bruteForceTopK(q, c, "vec_id", "embedding", 5)
      Seq(32, 16).map { d =>
        Similarity.recallAtK(truth,
          Similarity.matryoshkaTopK(q, c, "vec_id", "embedding", 5, d), 5)
          .withColumn("dims", lit(d.toLong))
      }.reduce(_.unionByName(_))
        .select("dims", "query_id", "hits", "recall")
    },
    Some {
      def leg(d: Int) = s"""
        SELECT $d AS dims, t.query_id,
          CAST(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS hits,
          sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) / 5.0
            AS recall
        FROM truth t LEFT JOIN approx$d a
          ON a.query_id = t.query_id AND a.cand_id = t.cand_id
        GROUP BY t.query_id"""
      def approx(d: Int) = s"""approx$d AS (
        SELECT query_id, cand_id FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY ${cosSqlD("q.e", "c.e", d)} DESC, c.vec_id) AS rank
          FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id >= 10)
        WHERE rank <= 5)"""
      s"""WITH v AS (
          SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        truth AS (
          SELECT query_id, cand_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY ${cosSqlD("q.e", "c.e", 64)} DESC, c.vec_id) AS rank
            FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id >= 10)
          WHERE rank <= 5),
        ${approx(32)}, ${approx(16)}
        ${leg(32)} UNION ALL ${leg(16)}"""
    })

  /** Johnson–Lindenstrauss random projection with its price tag
    * (Similarity.rpTopK): the data-INDEPENDENT dimension reducer —
    * deterministic integer hyperplanes (the LSH plane family) project
    * 64 → 16/8 dims, exact cosine in the projected space, each leg's
    * recall measured against the full-dim truth in one frame (the
    * sim_matryoshka harness; matryoshka is the learned-prefix sibling). */
  val simRp = Q(
    "sim_rp",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val c = e.filter(col("vec_id") >= 10)
      val truth = Similarity.bruteForceTopK(q, c, "vec_id", "embedding", 5)
      Seq(16, 8).map { d =>
        Similarity.recallAtK(truth,
          Similarity.rpTopK(q, c, "vec_id", "embedding", 5, d, 64), 5)
          .withColumn("dims", lit(d.toLong))
      }.reduce(_.unionByName(_))
        .select("dims", "query_id", "hits", "recall")
    },
    Some {
      def projList(d: Int) =
        (0 until d).map(j => dotSql("e", s"(${planeSql(j)})"))
          .mkString("[", ", ", "]")
      def leg(d: Int) = s"""
        SELECT $d AS dims, t.query_id,
          CAST(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS hits,
          sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) / 5.0
            AS recall
        FROM truth t LEFT JOIN approx$d a
          ON a.query_id = t.query_id AND a.cand_id = t.cand_id
        GROUP BY t.query_id"""
      def approx(d: Int) = s"""approx$d AS (
        SELECT query_id, cand_id FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY ${cosSqlD("q.e", "c.e", d)} DESC, c.vec_id) AS rank
          FROM vp$d q JOIN vp$d c ON q.vec_id < 10 AND c.vec_id >= 10)
        WHERE rank <= 5)"""
      s"""WITH v AS (
          SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        vp16 AS (SELECT vec_id, ${projList(16)} AS e FROM v),
        vp8 AS (SELECT vec_id, ${projList(8)} AS e FROM v),
        truth AS (
          SELECT query_id, cand_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY ${cosSqlD("q.e", "c.e", 64)} DESC, c.vec_id) AS rank
            FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id >= 10)
          WHERE rank <= 5),
        ${approx(16)}, ${approx(8)}
        ${leg(16)} UNION ALL ${leg(8)}"""
    })

  /** Symmetric int8 scalar quantization (Similarity.sq8TopK): corpus
    * per-dim min/max → 0..255 codes on both sides → integer code-dot
    * ranking, top-5 per query. The whole ranking is BIGINT-exact after
    * the quantizer's two IEEE ops per dim, so the oracle replays it
    * bit-for-bit — the quantization error is IN the ranking, by
    * design (SQ trades recall for 4× fewer bytes; sim_pq_recall is the
    * harness that prices such trades). */
  val simSq8 = Q(
    "sim_sq8",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.sq8TopK(
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
        "vec_id", "embedding", k = 5, dims = 64)
    },
    Some("""WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      dims AS (SELECT unnest(generate_series(1, 64)) AS i),
      stats AS (
        SELECT i, min(e[i]) AS mn, max(e[i]) AS mx
        FROM v CROSS JOIN dims WHERE vec_id >= 10
        GROUP BY i),
      codes AS (
        SELECT v.vec_id, s.i,
          CASE WHEN s.mx = s.mn THEN CAST(0 AS BIGINT)
            ELSE least(greatest(CAST(floor(
                (v.e[s.i] - s.mn) * 255.0 / (s.mx - s.mn)) AS BIGINT),
              CAST(0 AS BIGINT)), CAST(255 AS BIGINT)) END AS code
        FROM v CROSS JOIN stats s),
      dots AS (
        SELECT qc.vec_id AS query_id, cc.vec_id AS cand_id,
          CAST(sum(qc.code * cc.code) AS BIGINT) AS dotq
        FROM codes qc JOIN codes cc ON qc.i = cc.i
        WHERE qc.vec_id < 10 AND cc.vec_id >= 10
        GROUP BY 1, 2)
      SELECT query_id, cand_id, rank, dotq FROM (
        SELECT query_id, cand_id, dotq,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY dotq DESC, cand_id) AS rank
        FROM dots) WHERE rank <= 5"""))

  /** DuckDB literal for LSH hyperplane j — generated from the same
    * Similarity.planeCoeff constants the Spark plan uses. */
  private def planeSql(j: Int) =
    (0 until 64).map(i => s"${Similarity.planeCoeff(j, i)}.0").mkString("[", ", ", "]::DOUBLE[]")

  /** Sign-bit bucket expression for multi-table LSH table `t` over a
    * DOUBLE[] column named `e` — bit p from global plane t·planes+p,
    * mirroring Similarity.lshBucketTable. */
  private def lshBucketBitsT(t: Int, planes: Int) = (0 until planes).map { p =>
    s"(CASE WHEN ${dotSql("e", s"(${planeSql(t * planes + p)})")} > 0 THEN ${1L << p} ELSE 0 END)"
  }.mkString(" + ")

  /** Sign-bit bucket expression over a DOUBLE[] column named `e`. */
  private val lshBucketBits = lshBucketBitsT(0, 8)

  /** LSH-bucketed ANN top-5: sign-bit buckets from 8 deterministic
    * integer hyperplanes prune candidates before scoring. */
  val simLsh = Q(
    "sim_lsh_topk",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.lshTopK(
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
        "vec_id", "embedding", k = 5, planes = 8, dims = 64)
    }, {
      val bucketBits = lshBucketBits
      Some(s"""WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      vb AS (
        SELECT vec_id, e, CAST($bucketBits AS BIGINT) AS bucket FROM v),
      s AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id, q.bucket,
          ${dotSql("q.e", "c.e")} /
            (sqrt(${dotSql("q.e", "q.e")}) * sqrt(${dotSql("c.e", "c.e")})) AS cos
        FROM vb q JOIN vb c ON q.bucket = c.bucket
          AND q.vec_id < 10 AND c.vec_id >= 10)
      SELECT query_id, cand_id, bucket, rank, cos FROM (
        SELECT query_id, cand_id, bucket, cos,
          row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
        FROM s) WHERE rank <= 5""")
    })

  private def cosSql(a: String, b: String) =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  /** Multi-table LSH candidate CTEs (over CTE `v`): per-table buckets
    * and the distinct OR'd candidate set — shared by sim_lsh_multi and
    * sim_recall. Geometry mirrors the Spark call: 8 tables × 4 planes. */
  private val lshMultiCtes = {
    val tableSelects = (0 until 8).map { t =>
      s"SELECT vec_id, $t AS t, CAST(${lshBucketBitsT(t, 4)} AS BIGINT) AS bucket FROM v"
    }.mkString("\n        UNION ALL ")
    s"""mb AS (
        $tableSelects),
      mcand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
        FROM mb q JOIN mb c ON q.t = c.t AND q.bucket = c.bucket
        WHERE q.vec_id < 10 AND c.vec_id >= 10),
      mscore AS (
        SELECT mcand.query_id, mcand.cand_id, ${cosSql("q.e", "c.e")} AS cos
        FROM mcand JOIN v q ON q.vec_id = mcand.query_id
        JOIN v c ON c.vec_id = mcand.cand_id),
      mlsh AS (
        SELECT query_id, cand_id, rank, cos FROM (
          SELECT query_id, cand_id, cos,
            row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
          FROM mscore) WHERE rank <= 5)"""
  }

  /** OR-amplified multi-table LSH ANN top-5 (8 tables × 4 planes): the
    * recall fix for the single-table cliff sim_recall measures — same
    * candidate-pruning idea as sim_lsh_topk, but a candidate qualifies
    * by co-bucketing in ANY of 8 independent tables. Measured mean
    * recall@5 at the sf0.01 geometry: 0.76 vs single-table 0.00. */
  val simLshMulti = Q(
    "sim_lsh_multi",
    (s, dir) => {
      val e = Tables.loadSpread(s, dir, "embeddings", "vec_id")
      Similarity.lshMultiTopK(
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
        "vec_id", "embedding", k = 5, planes = 4, tables = 8, dims = 64)
    },
    Some(s"""WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      $lshMultiCtes
      SELECT query_id, cand_id, rank, cos FROM mlsh"""))

  /** IVF ANN top-5: deterministic seeded coarse quantizer, nprobe=2. */
  val simIvf = Q(
    "sim_ivf_topk",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.ivfTopK(
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
        "vec_id", "embedding", k = 5, seedStride = 16, nprobe = 2)
    },
    Some(s"""WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      q AS (SELECT * FROM v WHERE vec_id < 10),
      c AS (SELECT * FROM v WHERE vec_id >= 10),
      cents AS (SELECT vec_id AS cent_id, e AS ce FROM c WHERE vec_id % 16 = 0),
      cand_cell AS (
        SELECT cand_id, cv, cell FROM (
          SELECT c.vec_id AS cand_id, c.e AS cv, cents.cent_id AS cell,
            row_number() OVER (PARTITION BY c.vec_id
              ORDER BY ${cosSql("c.e", "cents.ce")} DESC, cents.cent_id) AS r
          FROM c CROSS JOIN cents) WHERE r <= 1),
      q_cell AS (
        SELECT query_id, qv, cell FROM (
          SELECT q.vec_id AS query_id, q.e AS qv, cents.cent_id AS cell,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY ${cosSql("q.e", "cents.ce")} DESC, cents.cent_id) AS r
          FROM q CROSS JOIN cents) WHERE r <= 2),
      scored AS (
        SELECT query_id, cand_id, ${cosSql("qv", "cv")} AS cos
        FROM cand_cell JOIN q_cell USING (cell)
        WHERE query_id != cand_id)
      SELECT query_id, cand_id, rank, cos FROM (
        SELECT query_id, cand_id, cos,
          row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
        FROM scored) WHERE rank <= 5"""))

  /** IVF with candidate spill (soft assignment): each candidate stored
    * in its 2 nearest cells, queries probe 8 — measured 0.66 mean
    * recall on the worst-case uniform geometry where probe-widening
    * alone needs nprobe=12 for 0.52 (see Similarity.ivfMultiprobeTopK).
    * The DISTINCT before re-rank is the lshMultiTopK OR-pattern. */
  val simIvfMultiprobe = Q(
    "sim_ivf_multiprobe",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.ivfMultiprobeTopK(
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
        "vec_id", "embedding", k = 5, seedStride = 16, nprobe = 8, spill = 2)
    },
    Some(s"""WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      q AS (SELECT * FROM v WHERE vec_id < 10),
      c AS (SELECT * FROM v WHERE vec_id >= 10),
      cents AS (SELECT vec_id AS cent_id, e AS ce FROM c WHERE vec_id % 16 = 0),
      cand_cell AS (
        SELECT cand_id, cv, cell FROM (
          SELECT c.vec_id AS cand_id, c.e AS cv, cents.cent_id AS cell,
            row_number() OVER (PARTITION BY c.vec_id
              ORDER BY ${cosSql("c.e", "cents.ce")} DESC, cents.cent_id) AS r
          FROM c CROSS JOIN cents) WHERE r <= 2),
      q_cell AS (
        SELECT query_id, qv, cell FROM (
          SELECT q.vec_id AS query_id, q.e AS qv, cents.cent_id AS cell,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY ${cosSql("q.e", "cents.ce")} DESC, cents.cent_id) AS r
          FROM q CROSS JOIN cents) WHERE r <= 8),
      scored AS (
        SELECT DISTINCT query_id, cand_id, ${cosSql("qv", "cv")} AS cos
        FROM cand_cell JOIN q_cell USING (cell)
        WHERE query_id != cand_id)
      SELECT query_id, cand_id, rank, cos FROM (
        SELECT query_id, cand_id, cos,
          row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
        FROM scored) WHERE rank <= 5"""))

  /** EMBEDDING-DISTRIBUTION drift (composition, no new operator): both
    * corpus generations assign to the SAME fixed coarse quantizer
    * (centroids from the baseline generation — drift must be measured
    * in a frozen geometry or the ruler moves with the data), and the
    * per-cell populations feed Profile.driftReport's integer-permille
    * comparison. Catches "the new crawl's embedding mass shifted
    * toward cluster X" the way a35 catches categorical drift — the
    * semantic-space monitor a training pipeline runs between corpus
    * versions. All-integer output; one broadcast-centroid assignment
    * pass per side, counts are cell-cardinality, never corpus. */
  val simEmbedDrift = Q(
    "sim_embed_drift",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val a = e.filter(col("vec_id") % 10 =!= 0)
      val cents = a.filter(col("vec_id") % 16 === 0)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cent_v"))
      def cells(df: org.apache.spark.sql.DataFrame) =
        Similarity.nearestCells(cents,
            df.select(col("vec_id").as("did"), col("embedding").as("dv")),
            "did", "dv", keep = 1)
          .select(lit("cell").as("dim"), col("cell").cast("string").as("bucket"))
      graft.operators.Profile.driftReport(cells(a), cells(e))
        .orderBy("bucket")
    },
    Some(s"""WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      a AS (SELECT * FROM v WHERE vec_id % 10 <> 0),
      cents AS (SELECT vec_id AS cent_id, e AS ce FROM a WHERE vec_id % 16 = 0),
      ca AS (SELECT did, cell FROM (
          SELECT a.vec_id AS did, cents.cent_id AS cell,
            row_number() OVER (PARTITION BY a.vec_id
              ORDER BY ${cosSql("a.e", "cents.ce")} DESC, cents.cent_id) AS r
          FROM a CROSS JOIN cents) WHERE r = 1),
      cb AS (SELECT did, cell FROM (
          SELECT v.vec_id AS did, cents.cent_id AS cell,
            row_number() OVER (PARTITION BY v.vec_id
              ORDER BY ${cosSql("v.e", "cents.ce")} DESC, cents.cent_id) AS r
          FROM v CROSS JOIN cents) WHERE r = 1),
      no_ AS (SELECT CAST(cell AS VARCHAR) AS bucket, count(*) AS n_old
        FROM ca GROUP BY 1),
      nn AS (SELECT CAST(cell AS VARCHAR) AS bucket, count(*) AS n_new
        FROM cb GROUP BY 1),
      j AS (SELECT bucket,
          CAST(COALESCE(n_old, 0) AS BIGINT) AS n_old,
          CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new
        FROM no_ FULL OUTER JOIN nn USING (bucket)),
      t AS (SELECT CAST(sum(n_old) AS BIGINT) AS tot_old,
          CAST(sum(n_new) AS BIGINT) AS tot_new FROM j)
      SELECT 'cell' AS dim, bucket, n_old, n_new,
        CASE WHEN tot_old = 0 THEN 0 ELSE (1000 * n_old) // tot_old END
          AS share_old_pm,
        CASE WHEN tot_new = 0 THEN 0 ELSE (1000 * n_new) // tot_new END
          AS share_new_pm,
        abs(CASE WHEN tot_old = 0 THEN 0 ELSE (1000 * n_old) // tot_old END -
            CASE WHEN tot_new = 0 THEN 0 ELSE (1000 * n_new) // tot_new END)
          AS delta_pm
      FROM j, t ORDER BY bucket"""))

  /** The sim_ivf_multiprobe computation as DuckDB SQL over a
    * parameterized candidate set — shared by the stored-index queries,
    * whose serve must equal the from-scratch computation over whatever
    * corpus the index currently holds. */
  private def ivfMultiprobeOracleSql(candWhere: String,
      filterWhere: String = "TRUE"): String =
    s"""WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      q AS (SELECT * FROM v WHERE vec_id < 10),
      c AS (SELECT * FROM v WHERE $candWhere),
      cents AS (SELECT vec_id AS cent_id, e AS ce FROM c WHERE vec_id % 16 = 0),
      cand_cell AS (
        SELECT cand_id, cv, cell FROM (
          SELECT c.vec_id AS cand_id, c.e AS cv, cents.cent_id AS cell,
            row_number() OVER (PARTITION BY c.vec_id
              ORDER BY ${cosSql("c.e", "cents.ce")} DESC, cents.cent_id) AS r
          FROM c CROSS JOIN cents) WHERE r <= 2),
      q_cell AS (
        SELECT query_id, qv, cell FROM (
          SELECT q.vec_id AS query_id, q.e AS qv, cents.cent_id AS cell,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY ${cosSql("q.e", "cents.ce")} DESC, cents.cent_id) AS r
          FROM q CROSS JOIN cents) WHERE r <= 8),
      scored AS (
        SELECT DISTINCT query_id, cand_id, ${cosSql("qv", "cv")} AS cos
        FROM cand_cell JOIN q_cell USING (cell)
        WHERE query_id != cand_id AND ($filterWhere))
      SELECT query_id, cand_id, rank, cos FROM (
        SELECT query_id, cand_id, cos,
          row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
        FROM scored) WHERE rank <= 5"""

  /** STORED ANN serving (operators.AnnIndex): the IVF layout
    * materialized once — spill-replicated postings bucketed by cell,
    * broadcast centroid table — and served by bucket probe; the corpus
    * is never re-assigned per query batch (sim_ivf_multiprobe pays that
    * per-batch pass; this is its bm25TopKStored twin). Serve must equal
    * the from-scratch multiprobe computation with the same geometry —
    * the oracle IS that computation. */
  val simIvfStored = Q(
    "sim_ivf_stored",
    (s, dir) => {
      import graft.operators.AnnIndex
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_") + "_ivfb"
      def e = Tables.load(s, dir, "embeddings")
      AnnIndex.buildIndex(s, e.filter(col("vec_id") >= 10),
        "vec_id", "embedding", tag, seedStride = 16, spill = 2)
      AnnIndex.serveTopK(s, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nprobe = 8, tag = tag)
    },
    Some(ivfMultiprobeOracleSql("vec_id >= 10")))

  /** FILTERED vector search over the stored index
    * (AnnIndex.serveTopKFiltered): top-k among only the candidates in a
    * metadata-derived id set — "similar docs WHERE …", the vector-DB
    * feature every RAG stack leans on. POST-FILTER semantics: cells are
    * probed with the FULL index's geometry, then the id set prunes
    * candidates before any cosine is computed, so the oracle is the
    * same multiprobe computation with the predicate applied at the
    * scoring stage only (centroids and cell assignment untouched).
    * Reuses sim_ivf_stored's index — build-once, filter at serve. */
  val simIvfFiltered = Q(
    "sim_ivf_filtered",
    (s, dir) => {
      import graft.operators.AnnIndex
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_") + "_ivfb"
      def e = Tables.load(s, dir, "embeddings")
      AnnIndex.buildIndex(s, e.filter(col("vec_id") >= 10),
        "vec_id", "embedding", tag, seedStride = 16, spill = 2)
      AnnIndex.serveTopKFiltered(s, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nprobe = 8, tag = tag,
        allowedIds = e.filter(col("vec_id") >= 10 && col("vec_id") % 3 === 0)
          .select("vec_id"))
    },
    Some(ivfMultiprobeOracleSql("vec_id >= 10", "cand_id % 3 = 0")))

  /** HARD-NEGATIVE mining over the STORED index
    * (AnnIndex.serveTopKHardNegatives) — sim_hard_negatives is the
    * brute truth instrument; THIS is the path a 100 TB corpus runs:
    * probe the index's cells, drop same-label candidates before any
    * cosine, rank survivors — mining cost ∝ probed candidates, like
    * serving. Reuses sim_ivf_stored's index; the oracle is the same
    * from-scratch multiprobe computation with the label inequality
    * applied at the scoring stage (correlated label lookups — the SQL
    * statement of "different label", not a replay of the plan). */
  val simHardNegativesIvf = Q(
    "sim_hard_negatives_ivf",
    (s, dir) => {
      import graft.operators.AnnIndex
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_") + "_ivfb"
      def e = Tables.load(s, dir, "embeddings")
      AnnIndex.buildIndex(s, e.filter(col("vec_id") >= 10),
        "vec_id", "embedding", tag, seedStride = 16, spill = 2)
      AnnIndex.serveTopKHardNegatives(s, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", "label", k = 5, nprobe = 8, tag = tag,
        candLabels = e.filter(col("vec_id") >= 10).select("vec_id", "label"))
    },
    Some(ivfMultiprobeOracleSql("vec_id >= 10",
      """(SELECT x.label FROM embeddings x WHERE x.vec_id = query_id)
         <> (SELECT y.label FROM embeddings y WHERE y.vec_id = cand_id)""")))

  /** Binary pre-ranked serve over the stored index
    * (AnnIndex.serveTopKBinary): stage 1 ranks probed candidates by
    * Hamming distance over the sign-bit code words STORED in the
    * postings (the scan reads 2 BIGINTs, the vector column pruned
    * away); stage 2 re-reads float vectors for the 20-deep shortlist
    * only. Reuses sim_ivf_stored's index. The oracle replays the probe
    * + hamming + rerank chain from scratch. */
  val simIvfBinary = Q(
    "sim_ivf_binary",
    (s, dir) => {
      import graft.operators.AnnIndex
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_") + "_ivfb"
      def e = Tables.load(s, dir, "embeddings")
      AnnIndex.buildIndex(s, e.filter(col("vec_id") >= 10),
        "vec_id", "embedding", tag, seedStride = 16, spill = 2)
      AnnIndex.serveTopKBinary(s, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nprobe = 8, tag = tag,
        shortlist = 20)
    },
    Some(s"""WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      q AS (SELECT * FROM v WHERE vec_id < 10),
      c AS (SELECT * FROM v WHERE vec_id >= 10),
      cents AS (SELECT vec_id AS cent_id, e AS ce FROM c WHERE vec_id % 16 = 0),
      cand_cell AS (
        SELECT cand_id, cell, b0, b1 FROM (
          SELECT c.vec_id AS cand_id, cents.cent_id AS cell,
            CAST(${binWordSql("c.e", 0)} AS BIGINT) AS b0,
            CAST(${binWordSql("c.e", 1)} AS BIGINT) AS b1,
            row_number() OVER (PARTITION BY c.vec_id
              ORDER BY ${cosSql("c.e", "cents.ce")} DESC, cents.cent_id) AS r
          FROM c CROSS JOIN cents) WHERE r <= 2),
      q_cell AS (
        SELECT query_id, cell, qb0, qb1 FROM (
          SELECT q.vec_id AS query_id, cents.cent_id AS cell,
            CAST(${binWordSql("q.e", 0)} AS BIGINT) AS qb0,
            CAST(${binWordSql("q.e", 1)} AS BIGINT) AS qb1,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY ${cosSql("q.e", "cents.ce")} DESC, cents.cent_id) AS r
          FROM q CROSS JOIN cents) WHERE r <= 8),
      ham AS (
        SELECT DISTINCT query_id, cand_id,
          CAST(bit_count(xor(b0, qb0)) AS BIGINT) +
            CAST(bit_count(xor(b1, qb1)) AS BIGINT) AS ham
        FROM cand_cell JOIN q_cell USING (cell) WHERE query_id != cand_id),
      short AS (
        SELECT query_id, cand_id FROM (
          SELECT query_id, cand_id,
            row_number() OVER (PARTITION BY query_id
                               ORDER BY ham, cand_id) AS hrk
          FROM ham) WHERE hrk <= 20),
      scored AS (
        SELECT s.query_id, s.cand_id, ${cosSql("qq.e", "cc.e")} AS cos
        FROM short s JOIN v qq ON qq.vec_id = s.query_id
          JOIN v cc ON cc.vec_id = s.cand_id)
      SELECT query_id, cand_id, rank, cos FROM (
        SELECT query_id, cand_id, cos,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY cos DESC, cand_id) AS rank
        FROM scored) WHERE rank <= 5"""))

  /** Stored-ANN maintenance cycle: build WITHOUT the %10==3 vectors,
    * APPEND them against the frozen stored centroids, DELETE %100==23,
    * COMPACT (atomic version commit), delete %100==47 post-compaction,
    * serve.
    * Geometry note that makes this oracle-able: the build set contains
    * every centroid id (%16==0 ids are even; the excluded/deleted ids
    * end in odd digits), so frozen-centroid assignment equals
    * from-scratch assignment and serve == the multiprobe computation
    * over exactly the surviving corpus. */
  val simIvfUpsert = Q(
    "sim_ivf_upsert",
    (s, dir) => {
      import graft.operators.AnnIndex
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_") + "_ivfu"
      def e = Tables.load(s, dir, "embeddings")
      graft.sources.Bucketing.ensureOnce(s"annupsert@$tag") {
        AnnIndex.buildIndex(s,
          e.filter(col("vec_id") >= 10 && col("vec_id") % 10 =!= 3),
          "vec_id", "embedding", tag, seedStride = 16, spill = 2)
        AnnIndex.appendToIndex(s,
          e.filter(col("vec_id") >= 10 && col("vec_id") % 10 === 3),
          "vec_id", "embedding", tag)
        AnnIndex.deleteFromIndex(s,
          e.filter(col("vec_id") >= 10 && col("vec_id") % 100 === 23)
            .select("vec_id"), "vec_id", tag)
        AnnIndex.compactIndex(s, tag)
        AnnIndex.deleteFromIndex(s,
          e.filter(col("vec_id") >= 10 && col("vec_id") % 100 === 47)
            .select("vec_id"), "vec_id", tag)
      }
      AnnIndex.serveTopK(s, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nprobe = 8, tag = tag)
    },
    Some(ivfMultiprobeOracleSql(
      "vec_id >= 10 AND vec_id % 100 NOT IN (23, 47)")))

  /** DRIFT-TRIGGERED RE-CLUSTERING: the remediation path for what
    * sim_embed_drift measures — frozen centroids degrade recall as the
    * corpus distribution moves. Deleting every %32==16 id removes HALF
    * the %16==0 centroid vectors from the corpus; a frozen-geometry
    * compaction would keep serving their empty cells, so this one
    * re-clusters: compactIndex(recluster = true) re-derives the coarse
    * quantizer from the LIVE corpus by the same deterministic id-stride
    * rule the build used and re-assigns the survivors — one corpus
    * pass, paid exactly when compaction rewrites the corpus anyway.
    * Oracle-able because the oracle derives ITS centroids from the same
    * survivor set (`cents AS (... FROM c WHERE vec_id % 16 = 0)` over
    * the post-delete corpus = the reclustered %32==0 set): serve after
    * recluster == the from-scratch multiprobe computation over exactly
    * the surviving corpus with the re-derived geometry. */
  val simIvfRecluster = Q(
    "sim_ivf_recluster",
    (s, dir) => {
      import graft.operators.AnnIndex
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_") + "_ivfr"
      def e = Tables.load(s, dir, "embeddings")
      graft.sources.Bucketing.ensureOnce(s"annrecluster@$tag") {
        AnnIndex.buildIndex(s, e.filter(col("vec_id") >= 10),
          "vec_id", "embedding", tag, seedStride = 16, spill = 2)
        AnnIndex.deleteFromIndex(s,
          e.filter(col("vec_id") >= 10 && col("vec_id") % 32 === 16)
            .select("vec_id"), "vec_id", tag)
        AnnIndex.compactIndex(s, tag, recluster = true)
      }
      AnnIndex.serveTopK(s, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nprobe = 8, tag = tag)
    },
    Some(ivfMultiprobeOracleSql("vec_id >= 10 AND vec_id % 32 <> 16")))

  /** Fixed-point Lloyd k-means over the embedding table: 2 refinement
    * iterations from the ivf seed set, per-cluster member counts and
    * exact within-cluster squared distance. The oracle replays both
    * iterations as unrolled CTEs — integer quantization makes every
    * step bit-reproducible (DuckDB `//` and Spark `DIV` both truncate
    * toward zero; verified). */
  // ---- shared kmeans oracle fragments (sim_kmeans, dd_semantic_kmeans) ----

  private val kmDistSql = "CAST(list_sum(list_transform(list_zip(v.qv, c.cv), " +
    "p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"

  /** One fixed-point Lloyd ASSIGN step as a CTE (argmin integer L2,
    * ties to the smaller centroid id). */
  private def kmAssignCte(aName: String, cName: String) =
    s"""$aName AS (
        SELECT vid, qv, cell, dist FROM (
          SELECT v.vid, v.qv, c.cent_id AS cell, $kmDistSql AS dist,
            row_number() OVER (PARTITION BY v.vid ORDER BY $kmDistSql, c.cent_id) AS rk
          FROM v CROSS JOIN $cName c) WHERE rk = 1)"""

  /** One fixed-point Lloyd UPDATE step as a CTE (integer-mean DIV). */
  private def kmUpdateCte(cNew: String, aName: String) =
    s"""$cNew AS (
        SELECT cell AS cent_id, list(comp ORDER BY pos) AS cv FROM (
          SELECT cell, pos, CAST(sum(cv_i) AS BIGINT) // count(*) AS comp
          FROM (SELECT a.cell, t.i AS pos, a.qv[t.i+1] AS cv_i
                FROM $aName a, range(64) t(i))
          GROUP BY cell, pos) GROUP BY cell)"""

  private val kmQuantizedV = """v AS (
        SELECT vec_id AS vid,
          list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000000) AS BIGINT)) AS qv
        FROM embeddings)"""

  val simKmeans = Q(
    "sim_kmeans",
    // NOT loadSpread (measured r16: 0.70 -> 1.43 s): the Lloyd rounds
    // re-execute the input per iteration leg, multiplying the exchange
    (s, dir) => Similarity.kmeansFixed(
      Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
      seedStride = 16, iters = 2),
    Some(s"""WITH $kmQuantizedV,
        c0 AS (SELECT vid AS cent_id, qv AS cv FROM v WHERE vid % 16 = 0),
        ${kmAssignCte("a1", "c0")},
        ${kmUpdateCte("c1", "a1")},
        ${kmAssignCte("a2", "c1")},
        ${kmUpdateCte("c2", "a2")},
        ${kmAssignCte("af", "c2")}
        SELECT cell AS cluster_id, CAST(count(*) AS BIGINT) AS n_members,
          CAST(sum(dist) AS BIGINT) AS ssd
        FROM af GROUP BY cell"""))

  /** SemDeDup with the codebook SemDeDup actually prescribes: the coarse
    * cells are Lloyd-REFINED (one fixed-point k-means pass —
    * Similarity.kmeansCentroidsKmv) instead of raw samples, then the
    * same max-cosine assignment + within-cell verify as dd_semantic.
    * Seeds are the 32 smallest-hash56 rows, NOT an id stride: the
    * codebook is fixed-size at any corpus scale, matching the
    * driver-bounded-literal contract of the per-row argmax (a stride
    * seeding here would crash semanticDupPairsWith's size guard past
    * 65k embeddings). Composes the two verified pieces end-to-end; the
    * oracle chains the sim_kmeans refinement CTEs into the dd_semantic
    * cell CTEs. */
  val ddSemanticKmeans = Q(
    "dd_semantic_kmeans",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val refined = Similarity.kmeansCentroidsKmv(
          emb, "vec_id", "embedding", k = 32, iters = 1)
        .map { case (cid, cv) => (cid, cv.map(_ / 1000000.0)) }
      Similarity.semanticDupPairsWith(
        emb, "vec_id", "embedding", refined, threshold = 0.4)
    },
    Some {
      def cos(a: String, b: String) =
        s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"
      s"""WITH $kmQuantizedV,
        c0 AS (SELECT vid AS cent_id, qv AS cv FROM v
               ORDER BY ${h56("CAST(vid AS VARCHAR)")}, vid LIMIT 32),
        ${kmAssignCte("a1", "c0")},
        ${kmUpdateCte("c1", "a1")},
        cd AS (
          SELECT cent_id, list_transform(cv, x -> x / 1000000.0) AS ce
          FROM c1),
        vd AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        ass AS (
          SELECT vec_id, e, cent_id,
            row_number() OVER (PARTITION BY vec_id
                               ORDER BY cos_c DESC, cent_id) AS rk
          FROM (SELECT vd.vec_id, vd.e, cd.cent_id, ${cos("vd.e", "cd.ce")} AS cos_c
                FROM vd CROSS JOIN cd)),
        cells AS (SELECT vec_id, e, cent_id AS cell FROM ass WHERE rk = 1)
        SELECT cell, id_a, id_b, cos FROM (
          SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
            ${cos("a.e", "b.e")} AS cos
          FROM cells a JOIN cells b
            ON a.cell = b.cell AND a.vec_id < b.vec_id)
        WHERE cos >= 0.4"""
    })

  /** PQ-encode the embedding table: 8 subspaces × 8 dims, codebook from
    * the stride-16 seeds. Codes + exact fixed-point reconstruction
    * error per vector. The codes array is emitted as a comma-joined
    * string: the driver's comparer hashes column values and can't hash
    * arrays, so registry outputs must be scalar (OutputShapeSpec pins
    * this for the whole registry). */
  val simPq = Q(
    "sim_pq_encode",
    (s, dir) => Similarity.pqEncode(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
        seedStride = 16, subspaces = 8)
      .select(col("vec_id"), concat_ws(",", col("codes")).as("codes"), col("err")),
    Some(s"""WITH v AS (
        SELECT vec_id AS vid,
          list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000000) AS BIGINT)) AS qv
        FROM embeddings),
      cb AS (SELECT vid AS cid, qv AS cv FROM v WHERE vid % 16 = 0),
      sub AS (
        SELECT v.vid, j.j, cb.cid,
          CAST(list_sum(list_transform(
            list_zip(v.qv[j.j*8+1 : j.j*8+8], cb.cv[j.j*8+1 : j.j*8+8]),
            p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS dist
        FROM v CROSS JOIN range(8) j(j) CROSS JOIN cb),
      best AS (
        SELECT vid, j, cid, dist FROM (
          SELECT vid, j, cid, dist,
            row_number() OVER (PARTITION BY vid, j ORDER BY dist, cid) AS rk
          FROM sub) WHERE rk = 1)
      SELECT vid AS vec_id, array_to_string(list(cid ORDER BY j), ',') AS codes,
        CAST(sum(dist) AS BIGINT) AS err
      FROM best GROUP BY vid"""))

  /** PQ-ADC top-5: candidates (vec_id ≥ 10) scored from their codes
    * alone via a per-query subspace lookup table; codebook = stride-16
    * seeds of the candidate set. */
  val simPqAdc = Q(
    "sim_pq_adc",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.pqAdcTopK(
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
        "vec_id", "embedding", seedStride = 16, subspaces = 8, k = 5)
    },
    Some(s"""WITH v AS (
        SELECT vec_id AS vid,
          list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000000) AS BIGINT)) AS qv
        FROM embeddings),
      cb AS (SELECT vid AS cid, qv AS cv FROM v WHERE vid >= 10 AND vid % 16 = 0),
      sub AS (
        SELECT v.vid, j.j, cb.cid,
          CAST(list_sum(list_transform(
            list_zip(v.qv[j.j*8+1 : j.j*8+8], cb.cv[j.j*8+1 : j.j*8+8]),
            p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS dist
        FROM v CROSS JOIN range(8) j(j) CROSS JOIN cb
        WHERE v.vid >= 10),
      best AS (
        SELECT vid, j, cid FROM (
          SELECT vid, j, cid,
            row_number() OVER (PARTITION BY vid, j ORDER BY dist, cid) AS rk
          FROM sub) WHERE rk = 1),
      lut AS (
        SELECT v.vid AS query_id, j.j, cb.cid,
          CAST(list_sum(list_transform(
            list_zip(v.qv[j.j*8+1 : j.j*8+8], cb.cv[j.j*8+1 : j.j*8+8]),
            p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS dist
        FROM v CROSS JOIN range(8) j(j) CROSS JOIN cb
        WHERE v.vid < 10),
      scored AS (
        SELECT query_id, b.vid AS cand_id, CAST(sum(lut.dist) AS BIGINT) AS adc
        FROM best b JOIN lut ON lut.j = b.j AND lut.cid = b.cid
        GROUP BY query_id, b.vid)
      SELECT query_id, cand_id, rank, adc FROM (
        SELECT query_id, cand_id, adc,
          row_number() OVER (PARTITION BY query_id ORDER BY adc, cand_id) AS rank
        FROM scored) WHERE rank <= 5"""))

  /** IVFADC (Jégou et al. 2011), the composed billion-vector serving
    * shape: coarse IVF cells prune each query to its nprobe=2 nearest
    * cells, then the surviving candidates are scored from PQ codes alone
    * via the per-query ADC lookup table — no full candidate vector is
    * read at query time. Composes the verified sim_ivf_topk coarse stage
    * with the verified sim_pq_adc fine stage. */
  val simIvfPq = Q(
    "sim_ivf_pq",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.ivfAdcTopK(
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
        "vec_id", "embedding", seedStride = 16, subspaces = 8,
        nprobe = 2, k = 5)
    },
    Some(s"""WITH vd AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      vq AS (
        SELECT vec_id AS vid,
          list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000000) AS BIGINT)) AS qv
        FROM embeddings),
      cents AS (
        SELECT vec_id AS cent_id, e AS ce FROM vd
        WHERE vec_id >= 10 AND vec_id % 16 = 0),
      cand_cell AS (
        SELECT cand_id, cell FROM (
          SELECT c.vec_id AS cand_id, cents.cent_id AS cell,
            row_number() OVER (PARTITION BY c.vec_id
              ORDER BY ${cosSql("c.e", "cents.ce")} DESC, cents.cent_id) AS r
          FROM (SELECT * FROM vd WHERE vec_id >= 10) c CROSS JOIN cents)
        WHERE r <= 1),
      q_cell AS (
        SELECT query_id, cell FROM (
          SELECT q.vec_id AS query_id, cents.cent_id AS cell,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY ${cosSql("q.e", "cents.ce")} DESC, cents.cent_id) AS r
          FROM (SELECT * FROM vd WHERE vec_id < 10) q CROSS JOIN cents)
        WHERE r <= 2),
      cb AS (SELECT vid AS cid, qv AS cv FROM vq WHERE vid >= 10 AND vid % 16 = 0),
      sub AS (
        SELECT v.vid, j.j, cb.cid,
          CAST(list_sum(list_transform(
            list_zip(v.qv[j.j*8+1 : j.j*8+8], cb.cv[j.j*8+1 : j.j*8+8]),
            p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS dist
        FROM vq v CROSS JOIN range(8) j(j) CROSS JOIN cb
        WHERE v.vid >= 10),
      best AS (
        SELECT vid, j, cid FROM (
          SELECT vid, j, cid,
            row_number() OVER (PARTITION BY vid, j ORDER BY dist, cid) AS rk
          FROM sub) WHERE rk = 1),
      lut AS (
        SELECT v.vid AS query_id, j.j, cb.cid,
          CAST(list_sum(list_transform(
            list_zip(v.qv[j.j*8+1 : j.j*8+8], cb.cv[j.j*8+1 : j.j*8+8]),
            p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS dist
        FROM vq v CROSS JOIN range(8) j(j) CROSS JOIN cb
        WHERE v.vid < 10),
      probed AS (
        SELECT q.query_id, b.vid AS cand_id, b.j, b.cid
        FROM best b
        JOIN cand_cell cc ON cc.cand_id = b.vid
        JOIN q_cell q USING (cell)
        WHERE q.query_id != b.vid),
      scored AS (
        SELECT p.query_id, p.cand_id, CAST(sum(l.dist) AS BIGINT) AS adc
        FROM probed p JOIN lut l
          ON l.query_id = p.query_id AND l.j = p.j AND l.cid = p.cid
        GROUP BY 1, 2)
      SELECT query_id, cand_id, rank, adc FROM (
        SELECT query_id, cand_id, adc,
          row_number() OVER (PARTITION BY query_id ORDER BY adc, cand_id) AS rank
        FROM scored) WHERE rank <= 5"""))

  /** Recall@5 of the two ANN variants against the verified brute-force
    * truth — the number that justifies (or indicts) each bucketing
    * trade. Composes three already-verified result sets
    * (sim_topk_bruteforce, sim_lsh_topk, sim_ivf_topk), so the oracle is
    * the same join over the same CTE chains.
    *
    * Measured at the test geometry (64-dim near-uniform synthetic
    * embeddings, 10 queries, sf0.01) — stated honestly, because random
    * vectors are the WORST case for ANN (no cluster structure to
    * exploit): IVF nprobe=2 mean recall 0.24, rising with probes exactly
    * as the knob promises (0.32 at nprobe=4, 0.42 at nprobe=8 — measured
    * via the oracle with only the probe bound changed); single-table
    * 8-plane sign-LSH recall 0.00 (0.12 at 4 planes, 0.40 at 2 — each
    * plane halves bucket-collision odds on uniform data, so one table of
    * 8 planes almost never co-buckets a true neighbor). The production
    * fix for the LSH side is OR-amplification:
    * [[graft.operators.Similarity.lshMultiTopK]] with 8 tables × 4
    * planes measures 0.76 mean recall on the same geometry (third
    * method row, `lsh_multi`); for the IVF side it is candidate SPILL
    * (fourth row `ivf_spill`: store each candidate in its 2 nearest
    * cells, probe 8 — 0.66 mean recall, vs 0.52 for probe-widening
    * alone at nprobe=12). On real embedding corpora with cluster
    * structure every curve sits far higher; this query is the
    * instrument that shows where a given corpus/geometry lands. */
  val simRecall = Q(
    "sim_recall",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val c = e.filter(col("vec_id") >= 10)
      val truth = Similarity.bruteForceTopK(q, c, "vec_id", "embedding", k = 5)
      val lsh = Similarity.lshTopK(q, c, "vec_id", "embedding",
        k = 5, planes = 8, dims = 64)
      val ivf = Similarity.ivfTopK(q, c, "vec_id", "embedding",
        k = 5, seedStride = 16, nprobe = 2)
      val multi = Similarity.lshMultiTopK(q, c, "vec_id", "embedding",
        k = 5, planes = 4, tables = 8, dims = 64)
      val spill = Similarity.ivfMultiprobeTopK(q, c, "vec_id", "embedding",
        k = 5, seedStride = 16, nprobe = 8, spill = 2)
      Similarity.recallAtK(truth, lsh, 5).withColumn("method", lit("lsh"))
        .unionByName(
          Similarity.recallAtK(truth, ivf, 5).withColumn("method", lit("ivf")))
        .unionByName(
          Similarity.recallAtK(truth, multi, 5).withColumn("method", lit("lsh_multi")))
        .unionByName(
          Similarity.recallAtK(truth, spill, 5).withColumn("method", lit("ivf_spill")))
        .select("method", "query_id", "hits", "recall")
    },
    Some(s"""WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      tscore AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
          ${cosSql("q.e", "c.e")} AS cos
        FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id >= 10),
      truth AS (
        SELECT query_id, cand_id FROM (
          SELECT query_id, cand_id,
            row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
          FROM tscore) WHERE rank <= 5),
      vb AS (
        SELECT vec_id, e, CAST($lshBucketBits AS BIGINT) AS bucket FROM v),
      lscore AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
          ${cosSql("q.e", "c.e")} AS cos
        FROM vb q JOIN vb c ON q.bucket = c.bucket
          AND q.vec_id < 10 AND c.vec_id >= 10),
      lsh AS (
        SELECT query_id, cand_id FROM (
          SELECT query_id, cand_id,
            row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
          FROM lscore) WHERE rank <= 5),
      c AS (SELECT * FROM v WHERE vec_id >= 10),
      qq AS (SELECT * FROM v WHERE vec_id < 10),
      cents AS (SELECT vec_id AS cent_id, e AS ce FROM c WHERE vec_id % 16 = 0),
      cand_cell AS (
        SELECT cand_id, cv, cell FROM (
          SELECT c.vec_id AS cand_id, c.e AS cv, cents.cent_id AS cell,
            row_number() OVER (PARTITION BY c.vec_id
              ORDER BY ${cosSql("c.e", "cents.ce")} DESC, cents.cent_id) AS r
          FROM c CROSS JOIN cents) WHERE r <= 1),
      q_cell AS (
        SELECT query_id, qv, cell FROM (
          SELECT qq.vec_id AS query_id, qq.e AS qv, cents.cent_id AS cell,
            row_number() OVER (PARTITION BY qq.vec_id
              ORDER BY ${cosSql("qq.e", "cents.ce")} DESC, cents.cent_id) AS r
          FROM qq CROSS JOIN cents) WHERE r <= 2),
      iscore AS (
        SELECT query_id, cand_id, ${cosSql("qv", "cv")} AS cos
        FROM cand_cell JOIN q_cell USING (cell)
        WHERE query_id != cand_id),
      ivf AS (
        SELECT query_id, cand_id FROM (
          SELECT query_id, cand_id,
            row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
          FROM iscore) WHERE rank <= 5),
      rl AS (
        SELECT t.query_id, CAST(count(l.cand_id) AS BIGINT) AS hits
        FROM truth t LEFT JOIN lsh l
          ON l.query_id = t.query_id AND l.cand_id = t.cand_id
        GROUP BY t.query_id),
      ri AS (
        SELECT t.query_id, CAST(count(i.cand_id) AS BIGINT) AS hits
        FROM truth t LEFT JOIN ivf i
          ON i.query_id = t.query_id AND i.cand_id = t.cand_id
        GROUP BY t.query_id),
      $lshMultiCtes,
      rm AS (
        SELECT t.query_id, CAST(count(m.cand_id) AS BIGINT) AS hits
        FROM truth t LEFT JOIN mlsh m
          ON m.query_id = t.query_id AND m.cand_id = t.cand_id
        GROUP BY t.query_id),
      sp_cand AS (
        SELECT cand_id, cv, cell FROM (
          SELECT c.vec_id AS cand_id, c.e AS cv, cents.cent_id AS cell,
            row_number() OVER (PARTITION BY c.vec_id
              ORDER BY ${cosSql("c.e", "cents.ce")} DESC, cents.cent_id) AS r
          FROM c CROSS JOIN cents) WHERE r <= 2),
      sp_q AS (
        SELECT query_id, qv, cell FROM (
          SELECT qq.vec_id AS query_id, qq.e AS qv, cents.cent_id AS cell,
            row_number() OVER (PARTITION BY qq.vec_id
              ORDER BY ${cosSql("qq.e", "cents.ce")} DESC, cents.cent_id) AS r
          FROM qq CROSS JOIN cents) WHERE r <= 8),
      sp_score AS (
        SELECT DISTINCT query_id, cand_id, ${cosSql("qv", "cv")} AS cos
        FROM sp_cand JOIN sp_q USING (cell)
        WHERE query_id != cand_id),
      sp_ivf AS (
        SELECT query_id, cand_id FROM (
          SELECT query_id, cand_id,
            row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
          FROM sp_score) WHERE rank <= 5),
      rsp AS (
        SELECT t.query_id, CAST(count(s.cand_id) AS BIGINT) AS hits
        FROM truth t LEFT JOIN sp_ivf s
          ON s.query_id = t.query_id AND s.cand_id = t.cand_id
        GROUP BY t.query_id)
      SELECT 'lsh' AS method, query_id, hits, hits / 5.0 AS recall FROM rl
      UNION ALL
      SELECT 'ivf' AS method, query_id, hits, hits / 5.0 AS recall FROM ri
      UNION ALL
      SELECT 'lsh_multi' AS method, query_id, hits, hits / 5.0 AS recall FROM rm
      UNION ALL
      SELECT 'ivf_spill' AS method, query_id, hits, hits / 5.0 AS recall FROM rsp"""))

  /** Exact fixed-point squared sub-distance between two quantized
    * integer lists — the PQ family's shared distance, DuckDB side. */
  private def sqDistSql(a: String, b: String) =
    s"CAST(list_sum(list_transform(list_zip($a, $b), " +
      s"p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"

  /** One ADC serving chain (encode candidates → per-query LUT → top-5 →
    * hits vs truth) against codebook CTE `cb`, suffixed `sfx` — shared
    * by sim_pq_recall's raw and Lloyd-refined method rows. */
  private def pqAdcChainCtes(sfx: String, cb: String) = s"""
      best$sfx AS (
        SELECT vid, j, cid FROM (
          SELECT vs.vid, vs.j, cb.cid,
            row_number() OVER (PARTITION BY vs.vid, vs.j
              ORDER BY ${sqDistSql("vs.sv", "cb.cv")}, cb.cid) AS rk
          FROM vs JOIN $cb cb ON vs.j = cb.j) WHERE rk = 1),
      lut$sfx AS (
        SELECT qs.vid AS query_id, qs.j, cb.cid,
          ${sqDistSql("qs.sv", "cb.cv")} AS dist
        FROM qs JOIN $cb cb ON qs.j = cb.j),
      approx$sfx AS (
        SELECT query_id, cand_id FROM (
          SELECT query_id, cand_id,
            row_number() OVER (PARTITION BY query_id ORDER BY adc, cand_id) AS rank
          FROM (
            SELECT l.query_id, b.vid AS cand_id, CAST(sum(l.dist) AS BIGINT) AS adc
            FROM best$sfx b JOIN lut$sfx l ON l.j = b.j AND l.cid = b.cid
            GROUP BY 1, 2)) WHERE rank <= 5),
      r$sfx AS (
        SELECT t.query_id, CAST(count(x.cand_id) AS BIGINT) AS hits
        FROM truth t LEFT JOIN approx$sfx x
          ON x.query_id = t.query_id AND x.cand_id = t.cand_id
        GROUP BY t.query_id)"""

  /** Recall@5 of PQ-ADC serving against the EXACT quantized-L2 truth —
    * the PQ sibling of sim_recall, isolating pure quantization loss
    * (ADC ranks by L2 over the codes, so the fair truth is exact L2
    * over the same fixed-point integers, not cosine). Two method rows:
    * `pq_adc` = the raw stride-seed codebooks sim_pq_adc ships;
    * `pq_refined` = one per-subspace Lloyd round
    * ([[graft.operators.Similarity.pqRefineCodebooks]] — the codebook
    * training Jégou et al. 2011 prescribe) before the identical
    * codes-only serving path.
    *
    * Measured at the test geometry (64-dim near-uniform synthetic
    * embeddings, 10 queries, k=5 — the ANN worst case, no cluster
    * structure): mean recall 0.18 → 0.26 at sf0.01 (~1.4×) and
    * 0.24 → 0.26 at sf0.1 from ONE Lloyd round, at identical serving
    * cost — uniform data is the floor for codebook training (there is
    * no cluster structure to fit); on real embedding corpora the gap
    * widens with exactly this instrument measuring it. The oracle
    * replays the refinement as unrolled CTEs (integer DIV makes each
    * round bit-reproducible) and both serving chains via one shared
    * CTE builder. */
  val simPqRecall = Q(
    "sim_pq_recall",
    (s, dir) => {
      // NOT loadSpread and NOT cacheOnce (measured r16: bare spread
      // 1.6 -> 2.2 s — the many scoring legs re-pay the exchange each;
      // cached spread 3.4 s — columnar caching of the float-array rows
      // costs more than the serial scans it saves)
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val c = e.filter(col("vec_id") >= 10)
      val truth = Similarity.bruteForceL2TopK(q, c, "vec_id", "embedding", k = 5)
      val raw = Similarity.pqAdcTopK(q, c, "vec_id", "embedding",
        seedStride = 16, subspaces = 8, k = 5)
      val refined = Similarity.pqAdcTopKRefined(q, c, "vec_id", "embedding",
        seedStride = 16, subspaces = 8, iters = 1, k = 5)
      Similarity.recallAtK(truth, raw, 5).withColumn("method", lit("pq_adc"))
        .unionByName(Similarity.recallAtK(truth, refined, 5)
          .withColumn("method", lit("pq_refined")))
        .select("method", "query_id", "hits", "recall")
    },
    Some(s"""WITH $kmQuantizedV,
      l2 AS (
        SELECT q.vid AS query_id, c.vid AS cand_id,
          ${sqDistSql("q.qv", "c.qv")} AS dist
        FROM v q JOIN v c ON q.vid < 10 AND c.vid >= 10),
      truth AS (
        SELECT query_id, cand_id FROM (
          SELECT query_id, cand_id,
            row_number() OVER (PARTITION BY query_id ORDER BY dist, cand_id) AS rank
          FROM l2) WHERE rank <= 5),
      vs AS (
        SELECT vid, j.j, qv[j.j*8+1 : j.j*8+8] AS sv
        FROM v CROSS JOIN range(8) j(j) WHERE vid >= 10),
      qs AS (
        SELECT vid, j.j, qv[j.j*8+1 : j.j*8+8] AS sv
        FROM v CROSS JOIN range(8) j(j) WHERE vid < 10),
      cb0 AS (SELECT vid AS cid, j, sv AS cv FROM vs WHERE vid % 16 = 0),
      a1 AS (
        SELECT vid, j, cell, sv FROM (
          SELECT vs.vid, vs.j, cb.cid AS cell, vs.sv,
            row_number() OVER (PARTITION BY vs.vid, vs.j
              ORDER BY ${sqDistSql("vs.sv", "cb.cv")}, cb.cid) AS rk
          FROM vs JOIN cb0 cb ON vs.j = cb.j) WHERE rk = 1),
      cb1 AS (
        SELECT j, cell AS cid, list(comp ORDER BY pos) AS cv FROM (
          SELECT j, cell, pos, CAST(sum(sv_i) AS BIGINT) // count(*) AS comp
          FROM (SELECT a.j, a.cell, t.i AS pos, a.sv[t.i+1] AS sv_i
                FROM a1 a, range(8) t(i))
          GROUP BY j, cell, pos) GROUP BY j, cell),
      ${pqAdcChainCtes("0", "cb0")},
      ${pqAdcChainCtes("1", "cb1")}
      SELECT 'pq_adc' AS method, query_id, hits, hits / 5.0 AS recall FROM r0
      UNION ALL
      SELECT 'pq_refined' AS method, query_id, hits, hits / 5.0 AS recall FROM r1"""))

  // ---- text analysis ------------------------------------------------------

  private def stopSql(words: Seq[String]) =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Stopword-vote language ID (en/fr/de/es, deterministic tie order).
    * The corpus `lang` column is synthetic noise over one shared
    * vocabulary, so `detected` is a function check, not an accuracy
    * claim — both columns are emitted for comparison. */
  val txtLangid = Q(
    "txt_langid",
    (s, dir) => {
      val t = TextAnalysis.tokens(col("text"))
      val en = size(array_intersect(t, array(TextAnalysis.EnStop.map(lit): _*)))
      val fr = size(array_intersect(t, array(TextAnalysis.FrStop.map(lit): _*)))
      val de = size(array_intersect(t, array(TextAnalysis.DeStop.map(lit): _*)))
      val es = size(array_intersect(t, array(TextAnalysis.EsStop.map(lit): _*)))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          when(en === 0 && fr === 0 && de === 0 && es === 0, "und")
            .when(en >= fr && en >= de && en >= es, "en")
            .when(fr >= de && fr >= es, "fr")
            .when(de >= es, "de")
            .otherwise("es").as("detected"))
    },
    Some(s"""WITH tok AS (
        SELECT doc_id, lang,
          list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS t
        FROM documents),
      hits AS (
        SELECT doc_id, lang,
          len(list_intersect(t, ${stopSql(TextAnalysis.EnStop)})) AS en,
          len(list_intersect(t, ${stopSql(TextAnalysis.FrStop)})) AS fr,
          len(list_intersect(t, ${stopSql(TextAnalysis.DeStop)})) AS de,
          len(list_intersect(t, ${stopSql(TextAnalysis.EsStop)})) AS es
        FROM tok)
      SELECT doc_id, lang,
        CASE WHEN en = 0 AND fr = 0 AND de = 0 AND es = 0 THEN 'und'
             WHEN en >= fr AND en >= de AND en >= es THEN 'en'
             WHEN fr >= de AND fr >= es THEN 'fr'
             WHEN de >= es THEN 'de' ELSE 'es' END AS detected
      FROM hits"""))

  /** Quality scoring: length/word/stopword/punctuation heuristics. */
  val txtQuality = Q(
    "txt_quality",
    (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).as("chars"),
          TextAnalysis.wordCount(col("text")).as("words"),
          TextAnalysis.qualityScore(col("text")).as("quality")),
    Some(s"""WITH m AS (
        SELECT doc_id, length(text) AS chars,
          len(string_split_regex(trim(text), '\\s+')) AS words,
          len(list_intersect(
            list_distinct(string_split_regex(lower(trim(text)), '\\s+')),
            ${stopSql(TextAnalysis.EnStop)})) AS stop_hits,
          len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS punct
        FROM documents)
      SELECT doc_id, chars, words,
        (CASE WHEN chars BETWEEN 100 AND 5000 THEN 40.0
              WHEN chars BETWEEN 20 AND 10000 THEN 20.0 ELSE 0.0 END)
        + (CASE WHEN CAST(chars AS DOUBLE) / CAST(words AS DOUBLE) BETWEEN 3.0 AND 10.0
                THEN 30.0 ELSE 10.0 END)
        + (CASE WHEN CAST(stop_hits AS DOUBLE) / 10.0 >= 0.2 THEN 20.0
                ELSE CAST(stop_hits AS DOUBLE) / 10.0 * 100.0 END)
        + (CASE WHEN CAST(punct AS DOUBLE) / CAST(chars AS DOUBLE) <= 0.1
                THEN 10.0 ELSE 0.0 END) AS quality
      FROM m"""))

  /** Token counting: whitespace words + BPE-ish sub-tokens. */
  val txtTokens = Q(
    "txt_token_count",
    (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.wordCount(col("text")).as("words"),
          TextAnalysis.subTokenCount(col("text")).as("subtokens")),
    Some("""SELECT doc_id,
        len(string_split_regex(trim(text), '\s+')) AS words,
        len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS subtokens
      FROM documents"""))

  /** Fingerprinting: order-invariant collision fingerprint (sorted token
    * md5) + order-sensitive polynomial rolling hash. */
  val txtFingerprint = Q(
    "txt_fingerprint",
    (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fingerprint"),
          TextAnalysis.rollingHash(col("text")).as("rolling_hash")),
    Some("""SELECT doc_id,
        md5(list_aggregate(list_sort(list_distinct(string_split_regex(lower(trim(text)), '\s+'))), 'string_agg', ' ')) AS fingerprint,
        list_reduce(list_transform(generate_series(1, greatest(length(text), 1)),
          i -> CAST(ord(substring(text, i, 1)) AS BIGINT)),
          (x, y) -> (x * 31 + y) % 1000000007) AS rolling_hash
      FROM documents"""))

  /** Fingerprint dup clusters — shuffled near-duplicates collide on the
    * order-invariant fingerprint. */
  val txtFpClusters = Q(
    "txt_fp_clusters",
    (s, dir) =>
      Tables.load(s, dir, "documents")
        .groupBy(TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_docs"))
        .filter(col("n_docs") > 1),
    Some("""SELECT md5(list_aggregate(list_sort(list_distinct(string_split_regex(lower(trim(text)), '\s+'))), 'string_agg', ' ')) AS fingerprint,
        min(doc_id) AS keep_id, count(*) AS n_docs
      FROM documents GROUP BY 1 HAVING count(*) > 1"""))

  // ---- multimodal ---------------------------------------------------------

  /** Multimodal metadata extraction through the typed-Dataset decode
    * pipeline (stub codec — see Multimodal.decodeStub). */
  val mmDecode = Q(
    "mm_decode_meta",
    (s, dir) => Multimodal.extractMetadata(s,
      Multimodal.toMediaTable(Tables.load(s, dir, "documents"))).toDF(),
    Some("""SELECT doc_id,
        CASE WHEN doc_id % 2 = 0 THEN 'img' ELSE 'aud' END AS media_type,
        CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        CAST(CASE WHEN doc_id % 2 = 0 THEN 1
                  ELSE octet_length(encode(text)) // 50 + 1 END AS BIGINT) AS frame_count,
        CAST(list_sum(list_transform(generate_series(1, length(text)),
          i -> ord(substring(text, i, 1)))) % 1000000007 AS BIGINT) AS checksum
      FROM documents"""))

  /** Frame sampling through the typed flatMap pipeline: every 4th
    * 50-byte frame per payload, surfaced as text for the oracle (payload
    * is ASCII, so byte slices equal substring slices). */
  /** Resize stage: every payload normalized to 64 bytes (truncate/pad) —
    * the metadata triple is SQL-expressible, so the plumbing verifies
    * end-to-end even though the "codec" is a stub. */
  val mmResize = Q(
    "mm_resize",
    (s, dir) => Multimodal.resizeStub(s,
        Multimodal.toMediaTable(Tables.load(s, dir, "documents")))
      .toDF().select("doc_id", "media_type", "in_bytes", "out_bytes", "truncated"),
    Some("""SELECT doc_id,
        CASE WHEN doc_id % 2 = 0 THEN 'img' ELSE 'aud' END AS media_type,
        CAST(octet_length(encode(text)) AS BIGINT) AS in_bytes,
        CAST(64 AS BIGINT) AS out_bytes,
        octet_length(encode(text)) > 64 AS truncated
      FROM documents"""))

  val mmFrames = Q(
    "mm_frame_sample",
    (s, dir) => {
      import s.implicits._
      Multimodal.sampleFrames(s,
          Multimodal.toMediaTable(Tables.load(s, dir, "documents")))
        .map(f => (f.doc_id, f.frame_idx, new String(f.frame, "UTF-8")))
        .toDF("doc_id", "frame_idx", "frame_text")
    },
    Some("""WITH n AS (
        SELECT doc_id, text,
          (octet_length(encode(text)) + 49) // 50 AS n_frames
        FROM documents)
      SELECT doc_id, i AS frame_idx, substring(text, i * 50 + 1, 50) AS frame_text
      FROM n, LATERAL (SELECT unnest(generate_series(0, n_frames - 1)) AS i)
      WHERE i % 4 = 0"""))

  /** REAL audio decode (Multimodal.pcm16Wav/decodeWav): unlike the
    * stubbed image/video codecs (no libraries in this container), PCM
    * WAV is a RIFF container over little-endian integers, so the audio
    * path is real end to end — a spec-conformant writer, a chunk-walking
    * parser that handles any PCM WAV, and exact integer statistics
    * (truncated-ms duration, Σ|sample| energy) off the decoded samples.
    * The payloads are synthesized deterministically from doc_id, so the
    * oracle verifies the whole encode→decode round trip — byte-level
    * parser included — arithmetically. */
  val mmWav = Q(
    "mm_wav_decode",
    (s, dir) => Multimodal.extractWavMetadata(s,
      Multimodal.toWavTable(s, Tables.load(s, dir, "documents"))).toDF(),
    Some("""WITH n AS (SELECT doc_id, 40 + doc_id % 57 AS ns FROM documents),
      sm AS (SELECT doc_id, ns, abs(((doc_id * 31 + i * 7) % 2001) - 1000) AS a
            FROM n, LATERAL (SELECT unnest(generate_series(0, ns - 1)) AS i))
      SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
        CAST(1 AS BIGINT) AS n_channels, CAST(16 AS BIGINT) AS bits,
        CAST(ns AS BIGINT) AS n_samples,
        CAST(ns * 1000 // 8000 AS BIGINT) AS duration_ms,
        CAST(sum(a) AS BIGINT) AS abs_sum
      FROM sm GROUP BY doc_id, ns"""))

  /** FIXED-POINT MEL-SPECTROGRAM (operators.Audio) — the audio
    * feature leg past decode: frame the REAL decoded PCM waveform
    * (32-sample windows, hop 16), integer DFT power per bin through
    * shared-literal trig tables (round(cos·2¹⁴) — computed once on
    * the JVM and embedded VERBATIM in both the Spark kernel and this
    * oracle text, so no libm can drift), truncated /2²⁸ power,
    * /64-quantized triangular mel filterbank, and PortableLn log-mel
    * as the only non-integer step. The kernel is per-record
    * mapPartitions DSP (the decodeWav pattern): zero shuffles, cost ∝
    * bytes — a pure map stage at 100 TB. */
  val mmMel = Q(
    "mm_mel_spectrogram",
    (s, dir) => Audio.melSpectrogram(s,
      Multimodal.toWavTable(s, Tables.load(s, dir, "documents"))),
    Some(Audio.melOracleSql()))

  /** MFCC (operators.Audio.mfcc): DCT-II of the log-mel — the
    * cepstral feature row a speech pipeline clusters/filters on. The
    * DCT is a left-associated sum of (band · literal) IEEE products
    * whose TEXT both engines share (mfccExprSql), so the doubles
    * match bit-for-bit; the pivot is a bounded conditional agg over
    * the 6 bands. One groupBy past the mel map stage — still ∝ rows. */
  val mmMfcc = Q(
    "mm_mfcc",
    (s, dir) => Audio.mfcc(s,
      Multimodal.toWavTable(s, Tables.load(s, dir, "documents"))),
    Some(Audio.mfccOracleSql()))

  /** AUDIO FINGERPRINT LOOKUP (Audio.fingerprints/lookup — Wang
    * 2003's constellation scheme in its production shape): spectral
    * peaks (integer power grid, strict > over 4 neighbors) paired
    * anchor→target within 3 frames; the key (anchor bin, target bin,
    * Δframe, integer power-ratio class) joins each QUERY snippet
    * against the library and the candidate with the most hits at ONE
    * consistent frame offset wins — the multimodal retrieval/dedup
    * member for the modality SimHash/MinHash can't touch. Queries are
    * planted: every 20th sliced doc re-appears id+2·10⁹ with its
    * first hop (16 samples) cropped, so its frames equal the source's
    * shifted by one and the lookup must return the source (or an
    * identical-audio chirp-class sibling — genuinely
    * indistinguishable; the deterministic tie-break picks the
    * smallest id) at offset −1. The oracle replays synthesis, grid,
    * peaks (same lag/lead windows), pairing, ratio classes, histogram,
    * and argmax. */
  /** Chirp-clip library over every 5th doc (Audio.chirpSamples: two
    * tones whose bins change per hop-sized block — true-duplicate
    * classes exactly at id ≡ id' mod 143). */
  private def chirpLibrary(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents").select("doc_id").as[Long]
      .filter(_ % 5 == 0)
      .mapPartitions(_.map(id => graft.operators.MediaRow(id, "wav",
        Multimodal.pcm16Wav(8000, Audio.chirpSamples(id)))))
      .toDF()
  }

  /** The planted query snippets: every 20th sliced doc again id+2·10⁹
    * with its first HOP cropped, which aligns every snippet frame with
    * the source's NEXT frame. */
  private def chirpSnippets(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents").select("doc_id").as[Long]
      .filter(_ % 100 == 0)
      .mapPartitions(_.map(id =>
        graft.operators.MediaRow(id + 2000000000L, "wav",
          Multimodal.pcm16Wav(8000,
            Audio.chirpSamples(id).drop(Audio.Hop)))))
      .toDF()
  }

  /** Shared oracle for the fingerprint-lookup pair: the stored variant
    * must return IDENTICAL results (the stored-index contract). */
  private lazy val audioFpOracleSql: String = {
      val tone = Audio.toneLitSql()
      val tone2 = Audio.tone2LitSql()
      val w = Audio.Window
      val h = Audio.Hop
      // samples: the same two table lookups + add, on the original id
      // (the copy's audio is the ORIGINAL's, cropped — so its formula
      // keeps the original's id with i offset by one hop)
      def sExpr(id: String, i: String) =
        s"""($tone)[1 + (($id % 11) * 3 + ($i // $h) * 7) % 13 + 1][($i % $w) + 1]
           + ($tone2)[1 + (($id % 13) * 5 + ($i // $h) * 5) % 13 + 1][($i % $w) + 1]"""
      s"""WITH sliced AS (
        SELECT doc_id, 160 + doc_id % 97 AS ns FROM documents
        WHERE doc_id % 5 = 0),
      corpus AS (
        SELECT doc_id, ns FROM sliced
        UNION ALL
        SELECT doc_id + 2000000000, ns - $h FROM sliced
        WHERE doc_id % 100 = 0),
      sm0 AS (
        SELECT d.doc_id, i.i, ${sExpr("d.doc_id", "i.i")} AS s
        FROM sliced d,
             LATERAL (SELECT unnest(generate_series(0, ns - 1)) AS i) i
        UNION ALL
        SELECT d.doc_id + 2000000000, i.i,
          ${sExpr("d.doc_id", s"(i.i + $h)")}
        FROM (SELECT doc_id, ns - $h AS ns FROM sliced
              WHERE doc_id % 100 = 0) d,
             LATERAL (SELECT unnest(generate_series(0, ns - 1)) AS i) i),
      ${Audio.fingerprintCtesSql()},
      m AS (SELECT q.doc_id AS query_id, l.doc_id AS matched_doc,
              q.frame_idx - l.frame_idx AS off
            FROM fp q JOIN fp l
              ON q.ba = l.ba AND q.bb = l.bb AND q.dt = l.dt AND q.rb = l.rb
            WHERE q.doc_id >= 2000000000 AND l.doc_id < 2000000000),
      h AS (SELECT query_id, matched_doc, off, count(*) AS n_matches
            FROM m GROUP BY query_id, matched_doc, off
            HAVING count(*) >= 8),
      best AS (SELECT query_id, matched_doc, off, n_matches,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY n_matches DESC, matched_doc ASC, off ASC) AS rk
               FROM h)
      SELECT query_id, matched_doc, off AS "offset", n_matches
      FROM best WHERE rk = 1"""
  }

  val mmAudioFp = Q(
    "mm_audio_fingerprint",
    // the KERNEL fingerprint form serves (zero shuffles — grid, peaks,
    // and pairs never leave the record); the relational form is pinned
    // value-identical in AudioSpec and kept as the auditable twin
    (s, dir) => Audio.lookup(
      Audio.fingerprintsKernel(s, chirpLibrary(s, dir)),
      Audio.fingerprintsKernel(s, chirpSnippets(s, dir)), minMatches = 8),
    Some(audioFpOracleSql))

  /** The lookup served from the STORED fingerprint index
    * (Audio.fingerprintIndex/lookupStored): extraction — decode, power
    * grid, peaks, pairing — runs ONCE per corpus snapshot (tag embeds
    * the source fingerprint, the sharedEdgesView freshness contract)
    * into an fpkey-bucketed table; each snippet batch then joins the
    * stored table with the library side unshuffled. Identical results
    * to mm_audio_fingerprint IS the stored-index contract (the
    * txt_bm25_stored pattern), so they share the oracle text. */
  val mmAudioFpStored = Q(
    "mm_audio_fp_stored",
    (s, dir) => {
      val tag = graft.sources.Bucketing.pathFingerprint(
        s, s"$dir/documents.parquet")
      Audio.fingerprintIndex(s, chirpLibrary(s, dir), tag)
      Audio.lookupStored(s,
        Audio.fingerprintsKernel(s, chirpSnippets(s, dir)),
        tag, minMatches = 8)
    },
    Some(audioFpOracleSql))

  /** REAL image resize (Multimodal.bmp24/decodeBmp/resizeBmp):
    * uncompressed 24-bit BMP needs no codec library, so the image path
    * joins the WAV one as real end to end — write an 8×6 image per
    * document, decode its pixels, nearest-neighbor resize to 4×3
    * (target pixel (x,y) reads source (2x,2y) — actual pixels move,
    * not the resizeStub byte-truncation), re-encode, decode AGAIN, and
    * emit exact per-channel sums of the result. The oracle replays the
    * synth-pixel formula at the resampled coordinates — equality proves
    * writer, parser (bottom-up rows, padding), and resampler all at
    * once. */
  val mmBmpResize = Q(
    "mm_bmp_resize",
    (s, dir) => Multimodal.resizeBmpTable(s,
      Multimodal.toBmpTable(s, Tables.load(s, dir, "documents")),
      w2 = 4, h2 = 3).toDF(),
    Some("""WITH g AS (
        SELECT doc_id, x, y FROM documents,
          LATERAL (SELECT unnest(generate_series(0, 3)) AS x),
          LATERAL (SELECT unnest(generate_series(0, 2)) AS y))
      SELECT doc_id, CAST(4 AS BIGINT) AS width, CAST(3 AS BIGINT) AS height,
        CAST(sum((doc_id + 6 * x + 10 * y) % 256) AS BIGINT) AS sum_r,
        CAST(sum((doc_id * 7 + 2 * x + 4 * y) % 256) AS BIGINT) AS sum_g,
        CAST(sum((4 * x * y + doc_id) % 256) AS BIGINT) AS sum_b
      FROM g GROUP BY doc_id"""))

  /** Perceptual image dedup (Multimodal.aHashBmp/perceptualDupPairs):
    * the multimodal member of the dedup family — near-duplicate images
    * collapse by AVERAGE HASH (gray, threshold against the image's
    * integer mean, pack 48 bits) computed off the REAL BMP decoder,
    * then EXACT Hamming-≤1 pairs via the pigeonhole 2-band equi-join
    * (dd_simhash's discipline — never an all-pairs product, recall
    * guaranteed). The corpus groups doc_id % 97 onto shared base
    * images with every 4th doc perturbing one pixel; the oracle
    * replays pixels → hash → bands → verify arithmetically. */
  val mmPhashDedup = Q(
    "mm_phash_dedup",
    (s, dir) => Multimodal.perceptualDupPairs(
        Multimodal.aHashTable(s,
          Multimodal.toBmpGroupTable(s, Tables.load(s, dir, "documents"))),
        bits = 48, maxDist = 1)
      .orderBy("doc_a", "doc_b"),
    Some("""WITH g AS (
        SELECT doc_id, x, y,
          CASE WHEN doc_id % 4 = 0 AND x = doc_id % 8
                 AND y = (doc_id // 8) % 6
            THEN (((doc_id % 97) % 13 + 2) * 6 * x
                  + ((doc_id % 97) % 17 + 3) * 10 * y
                  + (doc_id % 97) * 5 + 128) % 256
            ELSE (((doc_id % 97) % 13 + 2) * 6 * x
                  + ((doc_id % 97) % 17 + 3) * 10 * y
                  + (doc_id % 97) * 5) % 256 END AS gray
        FROM documents,
          LATERAL (SELECT unnest(generate_series(0, 7)) AS x),
          LATERAL (SELECT unnest(generate_series(0, 5)) AS y)),
      m AS (
        SELECT doc_id, CAST(sum(gray) AS BIGINT) // 48 AS mean
        FROM g GROUP BY doc_id),
      h AS (
        SELECT g.doc_id,
          CAST(coalesce(sum(CASE WHEN g.gray > m.mean
            THEN (CAST(1 AS BIGINT) << CAST(g.y * 8 + g.x AS INT)) END), 0)
            AS BIGINT) AS ahash
        FROM g JOIN m USING (doc_id) GROUP BY g.doc_id),
      b AS (
        SELECT doc_id, ahash, band,
          (ahash // (CAST(1 AS BIGINT) << CAST(band * 24 AS INT)))
            % (CAST(1 AS BIGINT) << 24) AS bv
        FROM h, LATERAL (SELECT unnest(generate_series(0, 1)) AS band)),
      p AS (
        SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
          a.ahash AS ha, c.ahash AS hb
        FROM b a JOIN b c ON a.band = c.band AND a.bv = c.bv
          AND a.doc_id < c.doc_id)
      SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
      FROM p WHERE bit_count(xor(ha, hb)) <= 1
      ORDER BY doc_a, doc_b"""))

  /** REAL video demux (Multimodal.aviMjpg/demuxAvi): AVI is RIFF, so
    * the CONTAINER level — headers, stream declaration, frame chunk
    * boundaries — is real with no codec: write an AVI of 5+doc_id%9
    * opaque frames per document, demux it by walking the chunk tree,
    * sample every 2nd frame, and emit each sampled frame's exact byte
    * length and checksum. Only the per-frame PIXEL decode stays
    * stubbed (MJPG genuinely needs a library) — the sampled opaque
    * bytes are exactly what a decoder fleet receives. The oracle
    * replays the synth formula per frame, so equality proves the
    * writer and the demuxer byte-for-byte. */
  /** INTER-FRAME video decode (Multimodal.gfv1/decodeGfv1): the GFV1
    * I+P container — keyframe + sparse per-frame pixel writes — folded
    * into per-frame reconstruction state, the property that makes
    * video video (frame k is not decodable without frames 1..k-1; only
    * H.264/VP9's ENTROPY CODING stays library-bound, per the
    * Multimodal seam doc). The per-frame exact checksum proves the
    * fold: a write list applied out of order, or against the wrong
    * prior state, changes Σ pixels. The oracle reconstructs each
    * (frame, pixel) as the LAST write at or before that frame (argmax
    * over (f, j) — list order within a frame wins, like overlapping
    * dirty rects) over the keyframe formula. */
  val mmPframe = Q(
    "mm_pframe_video",
    (s, dir) => Multimodal.extractGfv1Stats(s,
      Multimodal.toGfv1Table(s, Tables.load(s, dir, "documents"))).toDF(),
    Some("""WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS nf FROM documents),
      fr AS (SELECT doc_id, F FROM d,
             LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS F) F),
      bpx AS (SELECT doc_id, i.i AS idx,
                (doc_id + 3 * (i.i % 8) + 7 * (i.i // 8)) % 256 AS bval
              FROM d, LATERAL (SELECT unnest(generate_series(0, 47)) AS i) i),
      wr AS (SELECT d.doc_id, f.f, j.j,
               (d.doc_id * 13 + f.f * 31 + j.j * 17) % 48 AS idx,
               (d.doc_id + f.f * 5 + j.j * 11) % 256 AS val
             FROM d,
               LATERAL (SELECT unnest(generate_series(1, nf - 1)) AS f) f,
               LATERAL (SELECT unnest(generate_series(0, (d.doc_id + f.f) % 4)) AS j) j),
      last AS (SELECT g.doc_id, g.F, w.idx, w.val,
                 row_number() OVER (PARTITION BY g.doc_id, g.F, w.idx
                   ORDER BY w.f DESC, w.j DESC) AS rn
               FROM fr g JOIN wr w ON w.doc_id = g.doc_id AND w.f <= g.F),
      px AS (SELECT b.doc_id, g.F, b.idx, coalesce(c.val, b.bval) AS v
             FROM bpx b JOIN fr g ON g.doc_id = b.doc_id
             LEFT JOIN (SELECT doc_id, F, idx, val FROM last WHERE rn = 1) c
               ON c.doc_id = b.doc_id AND c.F = g.F AND c.idx = b.idx)
      SELECT doc_id, F AS frame_idx,
        CAST(sum(v) AS BIGINT) AS checksum,
        CAST(CASE WHEN F = 0 THEN 0
                  ELSE 1 + (doc_id + F) % 4 END AS BIGINT) AS n_writes
      FROM px GROUP BY doc_id, F"""))

  val mmAvi = Q(
    "mm_avi_demux",
    (s, dir) => Multimodal.sampleAviFrames(s,
      Multimodal.toAviTable(s, Tables.load(s, dir, "documents")),
      every = 2).toDF(),
    Some("""WITH f AS (
        SELECT doc_id, i, 20 + (doc_id + i) % 13 AS n_bytes
        FROM documents, LATERAL (SELECT unnest(generate_series(
          0, CAST(5 + doc_id % 9 AS BIGINT) - 1)) AS i)
        WHERE i % 2 = 0)
      SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
        CAST(n_bytes AS BIGINT) AS n_bytes,
        CAST(list_sum(list_transform(generate_series(0, n_bytes - 1),
          j -> (doc_id * 7 + i * 11 + j * 3) % 256)) % 1000000007
          AS BIGINT) AS checksum
      FROM f"""))

  /** SCENE-CUT DETECTION over real BMP-in-AVI sequences
    * (Multimodal.sceneCuts): demux → per-frame pixel decode →
    * consecutive-frame abs-diff → integer threshold verdict. The
    * planted two-scene sequences make the contract sharp: exactly one
    * cut per document, at frame 2 + doc_id mod 4, with same-scene
    * jitter an order of magnitude under the threshold. The oracle
    * replays the synthesis arithmetic per (frame, pixel, channel) —
    * equality proves container walk + BMP decode + the detector's
    * exact sums end to end. */
  val mmSceneCut = Q(
    "mm_scene_cut",
    (s, dir) => Q.sortOnce(Multimodal.sceneCuts(s,
      Multimodal.toSceneAviTable(s, Tables.load(s, dir, "documents")))
      .toDF(), col("doc_id"), col("frame_idx")),
    Some("""WITH px AS (
        SELECT doc_id, i, x, y,
          CASE WHEN i >= 2 + doc_id % 4 THEN 50 ELSE 0 END AS s1,
          CASE WHEN i - 1 >= 2 + doc_id % 4 THEN 50 ELSE 0 END AS s0,
          i % 3 AS j1, (i - 1) % 3 AS j0
        FROM documents,
          LATERAL (SELECT unnest(generate_series(1, 7)) AS i),
          LATERAL (SELECT unnest(generate_series(0, 15)) AS x),
          LATERAL (SELECT unnest(generate_series(0, 9)) AS y)),
      d AS (
        SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
          CAST(sum(
            abs(((doc_id + 3 * x + 7 * y) % 200 + s1 + j1)
              - ((doc_id + 3 * x + 7 * y) % 200 + s0 + j0))
            + abs(((doc_id * 5 + x + 2 * y) % 200 + s1 + j1)
              - ((doc_id * 5 + x + 2 * y) % 200 + s0 + j0))
            + abs(((doc_id + x * y) % 200 + s1 + j1)
              - ((doc_id + x * y) % 200 + s0 + j0))) AS BIGINT) AS diff_sum
        FROM px GROUP BY 1, 2)
      SELECT doc_id, frame_idx, diff_sum,
        diff_sum * 1000 > 10000 * 3 * 160 AS is_cut
      FROM d ORDER BY doc_id, frame_idx"""))

  /** REAL compressed-image codec (Multimodal.pngGray/decodePng): PNG is
    * the one compressed format the JDK alone can do honestly —
    * java.util.zip ships DEFLATE and CRC32; the rest is chunk framing
    * and the five scanline filters. The writer cycles ALL five filter
    * types (one per row) so the decoder's unfiltering paths are real
    * data; the decoder verifies every chunk CRC, inflates, and
    * reconstructs pixels. The oracle replays the deterministic gradient
    * arithmetically — equality proves the full
    * filter→DEFLATE→inflate→unfilter round trip per document. */
  val mmPng = Q(
    "mm_png_decode",
    (s, dir) => Multimodal.extractPngMetadata(s,
      Multimodal.toPngTable(s, Tables.load(s, dir, "documents"))).toDF(),
    Some("""WITH g AS (
        SELECT doc_id, x, y FROM documents,
          LATERAL (SELECT unnest(generate_series(0, 15)) AS x),
          LATERAL (SELECT unnest(generate_series(0, 9)) AS y))
      SELECT doc_id, CAST(16 AS BIGINT) AS width, CAST(10 AS BIGINT) AS height,
        CAST(sum((doc_id + 3 * x + 7 * y) % 256) AS BIGINT) AS px_sum
      FROM g GROUP BY doc_id"""))

  /** The composed corpus-curation funnel (operators.Curation): lang →
    * quality → exact-fingerprint dedup → near-dup cluster collapse, with
    * long-format per-stage survivor stats. Every stage reuses the SQL of
    * its standalone oracle (txt_langid / txt_quality / txt_fp_clusters /
    * dd_components), chained over each stage's survivors — so this one
    * query pins the COMPOSITION: filters run before the shingle/LSH
    * machinery, dedup keeps the lowest doc_id, clusters collapse to one
    * survivor. */
  /** CTE chain of the curation funnel (raw → lang → qual → exact →
    * near), shared by corpus_curate and corpus_curate_cut. */
  private def curateCtes: String = s"""raw AS (
        SELECT doc_id, text,
          len(string_split_regex(trim(text), '\\s+')) AS words
        FROM documents),
      ltok AS (
        SELECT doc_id,
          list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS t
        FROM raw),
      lhits AS (
        SELECT doc_id,
          len(list_intersect(t, ${stopSql(TextAnalysis.EnStop)})) AS en,
          len(list_intersect(t, ${stopSql(TextAnalysis.FrStop)})) AS fr,
          len(list_intersect(t, ${stopSql(TextAnalysis.DeStop)})) AS de
        FROM ltok),
      lang AS (
        SELECT r.doc_id, r.text, r.words
        FROM raw r JOIN lhits h USING (doc_id)
        WHERE (CASE WHEN h.en = 0 AND h.fr = 0 AND h.de = 0 THEN 'und'
                    WHEN h.en >= h.fr AND h.en >= h.de THEN 'en'
                    WHEN h.fr >= h.de THEN 'fr' ELSE 'de' END) = 'en'),
      qm AS (
        SELECT doc_id, length(text) AS chars,
          len(string_split_regex(trim(text), '\\s+')) AS wd,
          len(list_intersect(
            list_distinct(string_split_regex(lower(trim(text)), '\\s+')),
            ${stopSql(TextAnalysis.EnStop)})) AS stop_hits,
          len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS punct
        FROM lang),
      qual AS (
        SELECT l.doc_id, l.text, l.words
        FROM lang l JOIN qm USING (doc_id)
        WHERE (CASE WHEN qm.chars BETWEEN 100 AND 5000 THEN 40.0
                    WHEN qm.chars BETWEEN 20 AND 10000 THEN 20.0 ELSE 0.0 END)
          + (CASE WHEN CAST(qm.chars AS DOUBLE) / CAST(qm.wd AS DOUBLE)
                       BETWEEN 3.0 AND 10.0 THEN 30.0 ELSE 10.0 END)
          + (CASE WHEN CAST(qm.stop_hits AS DOUBLE) / 10.0 >= 0.2 THEN 20.0
                  ELSE CAST(qm.stop_hits AS DOUBLE) / 10.0 * 100.0 END)
          + (CASE WHEN CAST(qm.punct AS DOUBLE) / CAST(qm.chars AS DOUBLE) <= 0.1
                  THEN 10.0 ELSE 0.0 END) >= 80.0),
      exact AS (
        SELECT doc_id, text, words FROM (
          SELECT q.*, min(doc_id) OVER (PARTITION BY
            md5(list_aggregate(list_sort(list_distinct(
              string_split_regex(lower(trim(text)), '\\s+'))),
              'string_agg', ' '))) AS keep_id
          FROM qual q)
        WHERE doc_id = keep_id),
      ${minhashCtesOver("exact")},
      und AS (
        SELECT id_a AS a, id_b AS b FROM mh_pairs
        UNION SELECT id_b, id_a FROM mh_pairs),
      reach(a, b) AS (
        SELECT a, b FROM und
        UNION
        SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
      comp AS (
        SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a),
      near AS (
        SELECT e.doc_id, e.text, e.words FROM exact e
        WHERE NOT EXISTS (
          SELECT 1 FROM comp c WHERE c.id = e.doc_id AND c.id != c.component))"""

  /** The five stage-count rows over [[curateCtes]]. */
  private val curateStages: String = """
      SELECT CAST(0 AS BIGINT) AS stage_ord, 'raw' AS stage,
        count(*) AS n_docs, CAST(coalesce(sum(words), 0) AS BIGINT) AS n_words FROM raw
      UNION ALL SELECT 1, 'lang', count(*), CAST(coalesce(sum(words), 0) AS BIGINT) FROM lang
      UNION ALL SELECT 2, 'quality', count(*), CAST(coalesce(sum(words), 0) AS BIGINT) FROM qual
      UNION ALL SELECT 3, 'exact', count(*), CAST(coalesce(sum(words), 0) AS BIGINT) FROM exact
      UNION ALL SELECT 4, 'near_dup', count(*), CAST(coalesce(sum(words), 0) AS BIGINT) FROM near"""

  val corpusCurate = Q(
    "corpus_curate",
    // loadSpread: the funnel caches `raw` in the scan's partitioning, so
    // a 1-task scan serializes EVERY later stage's langid/quality regex
    // work over the cache (guide §2.5)
    (s, dir) => graft.operators.Curation.funnel(
      Tables.loadSpread(s, dir, "documents", "doc_id"),
      lang = "en", minQuality = 80.0),
    Some(s"WITH RECURSIVE $curateCtes $curateStages"))

  /** CORPUS FREEZE: the round-trip that makes a training run
    * reproducible — run the curation funnel, COMMIT the surviving
    * corpus as an immutable VersionedStore snapshot (marker-file atomic
    * commit, m17's machinery), then read the frozen version back FROM
    * ITS STORED BYTES and fingerprint it: doc/word counts plus modular
    * id- and content-checksums over every frozen document. The oracle
    * recomputes the funnel from the raw table and fingerprints what the
    * snapshot SHOULD contain — so a freeze that dropped, duplicated, or
    * altered one document's text hash-fails, which is exactly the
    * guarantee "train on the corpus as of freeze F" needs. Build runs
    * once per (JVM, sfDir); re-runs only read the snapshot. */
  val corpusFreeze = Q(
    "corpus_freeze",
    (s, dir) => {
      import graft.sources.VersionedStore
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val base = s"${graft.sources.Bucketing.processRoot}/freeze_$tag"
      if (VersionedStore.latest(s, base).isEmpty) {
        val st = graft.operators.Curation.stages(
          Tables.loadSpread(s, dir, "documents", "doc_id"), "en", 80.0)
        VersionedStore.commit(s, base,
          st.nearDup.select("doc_id", "text", "words"))
        st.unpersist()
      }
      VersionedStore.readLatest(s, base)
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("words")), lit(0L)).as("n_words"),
          coalesce(sum(col("doc_id") % 1000000007L), lit(0L)).as("id_sum"),
          coalesce(sum(Dedup.hash56(col("text")) % 1000000007L), lit(0L))
            .as("content_sum"))
        .select(lit(0L).as("version"), col("n_docs"), col("n_words"),
          col("id_sum"), col("content_sum"))
    },
    Some(s"""WITH RECURSIVE $curateCtes
      SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_docs,
        CAST(coalesce(sum(words), 0) AS BIGINT) AS n_words,
        CAST(coalesce(sum(doc_id % 1000000007), 0) AS BIGINT) AS id_sum,
        CAST(coalesce(sum(((md5_number_lower(text) % ${Dedup.M56})::BIGINT)
          % 1000000007), 0) AS BIGINT) AS content_sum
      FROM near"""))

  /** corpus_curate with the exact-substring CUT appended as stage 5 —
    * the complete curation tail a pretraining pipeline runs: after
    * whole-doc near-dup clusters collapse, verbatim spans embedded in
    * the survivors are spliced out (Dedup.cutRepeatedSpans over the
    * near_dup stage). Docs survive; the word count drops by the
    * covered-token total. The oracle chains the dd_substring_cut CTE
    * machinery over the funnel's `near` CTE.
    *
    * Stated honestly: on THIS synthetic corpus stage 5 removes zero
    * tokens (its duplication is whole-document, which stages 3-4
    * already collapse; measured 161173 → 161173 words at sf0.1) — the
    * composition and its oracle are verified end-to-end here, while
    * the stage's non-trivial cutting path is verified by
    * dd_substring_cut's synthesized-collision fixture and the
    * brute-force property test. On real web corpora embedded
    * boilerplate survives whole-doc dedup, which is why the paper runs
    * this pass at all. */
  val corpusCurateCut = Q(
    "corpus_curate_cut",
    (s, dir) => graft.operators.Curation.funnelWithCut(
      Tables.loadSpread(s, dir, "documents", "doc_id"),
      lang = "en", minQuality = 80.0),
    Some(s"""WITH RECURSIVE $curateCtes,
      toks6 AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM near),
      occ6 AS (
        SELECT doc_id, i - 1 AS pos, md5(array_to_string(t[i : i + 14], ' ')) AS wh
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 14)) AS i
              FROM toks6 WHERE len(t) >= 15)),
      rep6 AS (
        SELECT wh FROM occ6 GROUP BY wh HAVING count(DISTINCT doc_id) >= 2),
      firsts6 AS (
        SELECT wh, doc_id AS fdoc, pos AS fpos FROM (
          SELECT wh, doc_id, pos,
            row_number() OVER (PARTITION BY wh ORDER BY doc_id, pos) AS rn
          FROM occ6) WHERE rn = 1),
      cuts6 AS (
        SELECT o.doc_id, o.pos
        FROM occ6 o JOIN rep6 USING (wh) JOIN firsts6 f USING (wh)
        WHERE NOT (o.doc_id = f.fdoc AND o.pos = f.fpos)),
      covered6 AS (
        SELECT DISTINCT doc_id, pos + j AS cov
        FROM cuts6, (SELECT unnest(generate_series(0, 14)) AS j) js)
      $curateStages
      UNION ALL SELECT 5, 'span_cut', (SELECT count(*) FROM near),
        CAST((SELECT coalesce(sum(words), 0) FROM near)
          - (SELECT count(*) FROM covered6) AS BIGINT)"""))

  /** Hybrid retrieval: dense (brute-force cosine over embeddings) and
    * sparse (BM25 over documents) rankings for the SAME five queries —
    * query q's vector is embeddings[vec_id=q], its terms are
    * Corpus.Bm25Queries(q) — fused by reciprocal rank
    * (Retrieval.rrfFuse; exact integer reciprocals, so the fusion is
    * oracle-replayable even though the two scorers' scores are
    * incommensurable). Candidates are ids ≥ 10 on both sides (the dense
    * query split). This is the production search-stack shape: two
    * independent indexes, rank-level combination, no score
    * normalization. */
  val simHybridRrf = Q(
    "sim_hybrid_rrf",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val dense = graft.operators.Similarity.bruteForceTopK(
          e.filter(col("vec_id").between(1, 5)),
          e.filter(col("vec_id") >= 10), "vec_id", "embedding", k = 20)
        .select(col("query_id"), col("cand_id").as("id"), col("rank"))
      val sparse = graft.operators.Retrieval.bm25TopK(
          Tables.load(s, dir, "documents").filter(col("doc_id") >= 10),
          "doc_id", "text", Corpus.Bm25Queries, k = 20)
        .select(col("query_id"), col("doc_id").as("id"), col("rank"))
      graft.operators.Retrieval.rrfFuse(dense, sparse, k = 10)
        .orderBy("query_id", "rank")
    },
    Some {
      import graft.operators.Retrieval.{RrfK, RrfScale}
      s"""WITH ${graft.operators.Retrieval.bm25Ctes(
          Corpus.Bm25Queries, "WHERE doc_id >= 10")},
        v AS (
          SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        dsc AS (
          SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
            ${dotSql("q.e", "c.e")} /
              (sqrt(${dotSql("q.e", "q.e")}) * sqrt(${dotSql("c.e", "c.e")}))
              AS cos
          FROM v q JOIN v c
            ON q.vec_id BETWEEN 1 AND 5 AND c.vec_id >= 10),
        dense AS (
          SELECT query_id, cand_id, rank FROM (
            SELECT query_id, cand_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, cand_id) AS rank
            FROM dsc) WHERE rank <= 20),
        sparse AS (
          SELECT query_id, doc_id, rank FROM bm25_ranked WHERE rank <= 20),
        fused AS (
          SELECT coalesce(d.query_id, s.query_id) AS query_id,
            coalesce(d.cand_id, s.doc_id) AS id,
            coalesce($RrfScale // ($RrfK + d.rank), 0)
              + coalesce($RrfScale // ($RrfK + s.rank), 0) AS rrf_fp
          FROM dense d FULL OUTER JOIN sparse s
            ON d.query_id = s.query_id AND d.cand_id = s.doc_id)
        SELECT query_id, rank, id AS doc_id, CAST(rrf_fp AS BIGINT) AS rrf_fp
        FROM (
          SELECT query_id, id, rrf_fp,
            CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY rrf_fp DESC, id) AS BIGINT) AS rank
          FROM fused)
        WHERE rank <= 10 ORDER BY query_id, rank"""
    })

  /** Ranker agreement: per query, how much the dense (cosine) and
    * sparse (BM25) top-10 lists overlap — intersection size and Jaccard
    * in permille. This is the instrument that justifies sim_hybrid_rrf:
    * low overlap means the two systems surface DIFFERENT relevant
    * docs, which is exactly when rank fusion adds information (high
    * overlap would make hybrid redundant). Composes the two verified
    * ranking chains; all-integer, oracle-exact. */
  val simRankerOverlap = Q(
    "sim_ranker_overlap",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val dense = graft.operators.Similarity.bruteForceTopK(
          e.filter(col("vec_id").between(1, 5)),
          e.filter(col("vec_id") >= 10), "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("cand_id").as("id"))
      val sparse = graft.operators.Retrieval.bm25TopK(
          Tables.load(s, dir, "documents").filter(col("doc_id") >= 10),
          "doc_id", "text", Corpus.Bm25Queries, k = 10)
        .select(col("query_id"), col("doc_id").as("id"))
      val inter = dense.join(sparse, Seq("query_id", "id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_common"))
      val sizes = dense.groupBy("query_id").agg(count(lit(1)).as("n_dense"))
        .join(sparse.groupBy("query_id").agg(count(lit(1)).as("n_sparse")),
          "query_id")
      sizes.join(inter, Seq("query_id"), "left_outer")
        .select(col("query_id"), col("n_dense"), col("n_sparse"),
          coalesce(col("n_common"), lit(0L)).as("n_common"),
          expr("(1000 * coalesce(n_common, 0))" +
            " div (n_dense + n_sparse - coalesce(n_common, 0))")
            .as("jaccard_pm"))
        .orderBy("query_id")
    },
    Some {
      s"""WITH ${graft.operators.Retrieval.bm25Ctes(
          Corpus.Bm25Queries, "WHERE doc_id >= 10")},
        v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        dsc AS (
          SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
            ${dotSql("q.e", "c.e")} /
              (sqrt(${dotSql("q.e", "q.e")}) * sqrt(${dotSql("c.e", "c.e")}))
              AS cos
          FROM v q JOIN v c
            ON q.vec_id BETWEEN 1 AND 5 AND c.vec_id >= 10),
        dense AS (
          SELECT query_id, cand_id AS id FROM (
            SELECT query_id, cand_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, cand_id) AS rank
            FROM dsc) WHERE rank <= 10),
        sparse AS (
          SELECT query_id, doc_id AS id FROM bm25_ranked WHERE rank <= 10),
        inter AS (
          SELECT query_id, count(*) AS n_common
          FROM dense JOIN sparse USING (query_id, id) GROUP BY 1),
        sizes AS (
          SELECT d.query_id, d.n_dense, s.n_sparse
          FROM (SELECT query_id, count(*) AS n_dense FROM dense GROUP BY 1) d
          JOIN (SELECT query_id, count(*) AS n_sparse FROM sparse GROUP BY 1) s
            USING (query_id))
        SELECT query_id, n_dense, n_sparse,
          CAST(coalesce(n_common, 0) AS BIGINT) AS n_common,
          CAST((1000 * coalesce(n_common, 0))
            // (n_dense + n_sparse - coalesce(n_common, 0)) AS BIGINT)
            AS jaccard_pm
        FROM sizes LEFT JOIN inter USING (query_id)
        ORDER BY query_id"""
    })

  val all: Seq[Q] = Seq(ddExact, ddMinhash, ddSimhash, ddNgram, ddEmbed,
    ddSemantic, ddComponents, ddComponentsBest, ddComponentsInc,
    ddIncremental, ddIncStored,
    ddParagraph, ddJaccardPrefix, ddContainment, ddContainmentLsh,
    ddSubstring, ddSubstringCut, ddSubstringResidual, ddLshRecall, txtSplitLeakfree,
    txtContrastivePairs,
    simTopk, simMips, simHardNegatives, simBinaryHamming, simBinaryRerank,
    simMatryoshka, simSq8,
    simRp,
    simLsh, simLshMulti, simIvf, simIvfMultiprobe, simIvfStored,
    simIvfFiltered, simIvfBinary, simHardNegativesIvf,
    simIvfUpsert, simIvfRecluster, simEmbedDrift, simRecall, simPqRecall,
    simKmeans, simPq, simPqAdc, simIvfPq, simHybridRrf, simRankerOverlap,
    ddSemanticKmeans,
    txtLangid,
    txtQuality, txtTokens, txtFingerprint, txtFpClusters, mmDecode,
    mmFrames, mmResize, mmWav, mmMel, mmMfcc, mmAudioFp, mmAudioFpStored, mmPframe, mmBmpResize, mmAvi, mmPng, mmPhashDedup,
    mmSceneCut,
    corpusCurate,
    corpusCurateCut, corpusFreeze)
}
