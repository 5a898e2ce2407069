package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

class OperatorsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- Sketches -----------------------------------------------------------

  test("KMV estimate is exact under k and within ~3 std errors over k") {
    import graft.operators.{Dedup, Sketches}
    // 40 distinct keys (< k=64): sketch never fills, estimate is exact
    val small = (1 to 200).map(i => ("g", s"u${i % 40}")).toDF("g", "u")
      .select(col("g"), Dedup.hash56(col("u")).as("h"))
      .groupBy("g").agg(Sketches.kmv(64)(col("h")).as("kmv"))
      .select(Sketches.estimate("kmv", 64)).as[Long].head()
    assert(small == 40L)
    // 5000 distinct keys (>> k): ~12.5% standard error at k=64; the
    // fixed hash makes this a deterministic value, so the bound is tight
    val big = (1 to 5000).map(i => ("g", s"user$i")).toDF("g", "u")
      .repartition(8) // force real partial-buffer merges
      .select(col("g"), Dedup.hash56(col("u")).as("h"))
      .groupBy("g").agg(Sketches.kmv(64)(col("h")).as("kmv"))
      .select(Sketches.estimate("kmv", 64)).as[Long].head()
    assert(math.abs(big - 5000L) < 5000 * 0.375, s"KMV estimate $big vs 5000")
  }

  test("Sketches.cms never undercounts; exact here (fixed hashes, no collisions)") {
    import graft.operators.Sketches
    val df = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c")).toDF("k")
    val cells = Sketches.cmsCells(df, "k", d = 4, w = 256)
    assert(cells.agg(sum("n")).as[Long].head() == 9 * 4) // every row in every hash row
    val probes = df.groupBy("k").agg(count(lit(1)).as("exact_n"))
    val got = Sketches.cmsEstimate(probes, "k", cells, d = 4, w = 256)
      .select("k", "exact_n", "cms_n").as[(String, Long, Long)].collect()
    assert(got.length == 3)
    assert(got.forall { case (_, e, c) => c >= e }, "CMS must never undercount")
    // 3 keys across 4 rows of 256 buckets with FIXED md5 hashes: this
    // particular sketch has no colliding cells, so min == exact
    assert(got.forall { case (_, e, c) => c == e })
    // a key the sketch never saw estimates 0 (absent cells count as
    // empty — an inner cell join would silently DROP the probe instead)
    val unseen = Sketches.cmsEstimate(
      Seq("zzz-never-seen").toDF("k"), "k", cells, d = 4, w = 256)
      .select("k", "cms_n").as[(String, Long)].collect().toSeq
    assert(unseen == Seq(("zzz-never-seen", 0L)))
  }

  test("Sketches.bloom: no false negatives; impostors only at the Bloom rate") {
    import graft.operators.Sketches
    val members = (0L until 40L).map(i => i * 7 + 1)
    val dim = members.toDF("k")
    val words = Sketches.bloomBuild(dim, "k", m = 1024, k = 3)
    assert(words.length == 1024 / 64)
    assert(words.map(java.lang.Long.bitCount).sum <= 40 * 3,
      "at most k bits set per key")
    // every member MUST pass — a false negative is a correctness bug
    val memberPass = dim
      .filter(Sketches.bloomMightContain(col("k"), words, k = 3))
      .count()
    assert(memberPass == members.size.toLong)
    // non-members pass only at the (1-e^{-kn/m})^k false-positive rate:
    // ~0.16% here, so 2000 probes should see just a handful
    val probes = (10000L until 12000L).toDF("k")
    val fps = probes
      .filter(Sketches.bloomMightContain(col("k"), words, k = 3))
      .count()
    assert(fps <= 40, s"false-positive rate far above the Bloom bound: $fps/2000")
  }

  test("Align.epochShuffle: a true permutation, reproducible per epoch, different across epochs") {
    val docs = (1L to 50L).toDF("doc_id")
    def perm(epoch: Int) = Align.epochShuffle(docs, "doc_id", epoch)
      .orderBy("shuffle_pos").select("doc_id").as[Long].collect().toSeq
    val e1 = perm(1)
    assert(e1.sorted == (1L to 50L), "positions must cover every doc once")
    assert(e1 == perm(1), "same epoch deals the same order")
    assert(e1 != perm(2), "different epochs deal different orders")
    assert(e1 != (1L to 50L), "epoch 1 is actually shuffled")
  }

  test("Dedup.leakFreeSplit never separates a near-dup pair") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      n = 5, k = 16, bands = 4, threshold = 0.5).select("id_a", "id_b")
    assert(pairs.count() > 0, "vacuous corpus: no near-dup pairs to guard")
    val split = Dedup.leakFreeSplit(docs, "doc_id", "text")
    val sa = split.select(col("doc_id").as("id_a"), col("split").as("sa"))
    val sb = split.select(col("doc_id").as("id_b"), col("split").as("sb"))
    val leaks = pairs.join(sa, "id_a").join(sb, "id_b")
      .filter(col("sa") =!= col("sb")).count()
    assert(leaks == 0, s"$leaks near-dup pairs straddle a split boundary")
    // every doc is assigned exactly once
    assert(split.count() == docs.count())
    assert(split.select("doc_id").distinct().count() == docs.count())
  }

  test("Dedup.repeatedSpanOccurrences flags cross-doc spans, ignores intra-doc repeats") {
    val docs = Seq(
      (1L, "a b c d e"),  // windows(k=3): [a b c]@0 [b c d]@1 [c d e]@2
      (2L, "x a b c y"),  // [x a b]@0 [a b c]@1 [b c y]@2 — shares "a b c"
      (3L, "p q r p q r") // "p q r" twice, but only inside ONE doc
    ).toDF("doc_id", "text")
    val got = Dedup.repeatedSpanOccurrences(docs, "doc_id", "text", k = 3)
      .select("doc_id", "pos", "n_docs", "n_occ", "is_first")
      .as[(Long, Int, Long, Long, Boolean)].collect().toSet
    // only the cross-doc "a b c" qualifies; first = (doc 1, pos 0)
    assert(got == Set((1L, 0, 2L, 2L, true), (2L, 1, 2L, 2L, false)))
  }

  test("TextAnalysis.bigramScore: integer mean of bigram conditionals; short docs drop") {
    val docs = Seq((1L, "a b a c"), (2L, "a b"), (3L, "x"))
      .toDF("doc_id", "text")
    // corpus bigrams: (a,b)x2, (b,a), (a,c); prefixes: a=3, b=1
    // p6(a,b) = 2e6 DIV 3 = 666666; p6(b,a) = 1e6; p6(a,c) = 333333
    val got = TextAnalysis.bigramScore(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 3L, (666666L + 1000000L + 333333L) / 3), // = 666666
      (2L, 1L, 666666L))) // doc 3 has one token: no bigrams, no row
  }

  // ---- Bpe ----------------------------------------------------------------

  test("Bpe.train picks frequency-then-lex argmax and merges greedily") {
    val docs = Seq("ab ab abc", "abc abc ab").toDF("text")
    val vocab = Bpe.train(Bpe.wordFreq(docs, "text"), iters = 2)
      .select("word", "r", "n_sym")
      .as[(String, String, Long)].collect()
      .map { case (w, r, n) => w -> ((r, n)) }.toMap
    // iter 1: (a,b) count 6 beats (b,c) count 3; iter 2 merges (ab,c)
    assert(vocab("ab") == ("^ab", 1L))
    assert(vocab("abc") == ("^abc", 1L))
    val enc = Bpe.encodeCounts(Seq((1L, "ab abc")).toDF("doc_id", "text"),
      "doc_id", "text", Bpe.train(Bpe.wordFreq(docs, "text"), iters = 2))
      .as[(Long, Long, Long)].collect().head
    assert(enc == ((1L, 2L, 2L)))
  }

  test("Bpe merge is left-to-right non-overlapping (classic BPE)") {
    val docs = Seq("aaa").toDF("text")
    val vocab = Bpe.train(Bpe.wordFreq(docs, "text"), iters = 1)
      .select("r").as[String].collect().head
    assert(vocab == "^aa^a") // NOT ^aaa: the merged symbol can't re-merge
  }

  test("Bpe.trainBatched merges disjoint pairs in one round; window=1 degenerates to train") {
    // (a,b) and (c,d) tie on count and share no symbol: ONE round merges
    // both — the sequential trainer needs two iterations for the same
    val docs = Seq("ab ab cd cd").toDF("text")
    val batched = Bpe.trainBatched(Bpe.wordFreq(docs, "text"),
      rounds = 1, window = 8)
      .select("word", "r").as[(String, String)].collect().toMap
    assert(batched == Map("ab" -> "^ab", "cd" -> "^cd"))
    // conflicting candidates defer: with words "ab abc", candidates
    // (a,b) then (ab,c) — wait, (ab,c) only exists after the merge; the
    // round's candidates are (a,b) c=2 and (b,c) c=1, which SHARE b, so
    // only (a,b) applies this round even with a wide-open window
    val conflict = Bpe.trainBatched(
      Bpe.wordFreq(Seq("ab abc").toDF("text"), "text"),
      rounds = 1, window = 8)
      .select("word", "r").as[(String, String)].collect().toMap
    assert(conflict == Map("ab" -> "^ab", "abc" -> "^ab^c"))
    // window = 1 keeps exactly the per-round argmax: identical to train
    val corpus = Bpe.wordFreq(Seq("ab ab abc", "abc abc ab").toDF("text"), "text")
    val seq2 = Bpe.train(corpus, iters = 2)
      .select("word", "r").as[(String, String)].collect().toMap
    val bat2 = Bpe.trainBatched(corpus, rounds = 2, window = 1)
      .select("word", "r").as[(String, String)].collect().toMap
    assert(bat2 == seq2)
  }

  test("Bpe.train stops when no adjacent pair remains instead of crashing") {
    // single-char words exhaust after zero merges; "ab" exhausts after one
    val singles = Bpe.train(
      Bpe.wordFreq(Seq("a b c").toDF("text"), "text"), iters = 5)
      .select("r", "n_sym").as[(String, Long)].collect().toSet
    assert(singles == Set(("^a", 1L), ("^b", 1L), ("^c", 1L)))
    val pairWord = Bpe.train(
      Bpe.wordFreq(Seq("ab ab").toDF("text"), "text"), iters = 5)
      .select("r", "n_sym").as[(String, Long)].collect().toSet
    assert(pairWord == Set(("^ab", 1L)))
  }

  // ---- Merge --------------------------------------------------------------

  test("Merge.upsert: updates win, unmatched base rows survive") {
    val base = Seq((1, "a", 10), (2, "b", 20)).toDF("id", "name", "v")
    val updates = Seq((2, "b2", 25), (3, "c", 30)).toDF("id", "name", "v")
    val got = Merge.upsert(base, updates, Seq("id"))
      .orderBy("id").as[(Int, String, Int)].collect().toSeq
    assert(got == Seq((1, "a", 10), (2, "b2", 25), (3, "c", 30)))
  }

  test("Merge.upsertEvolving null-fills new columns on surviving base rows") {
    val base = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val upd = Seq((2, "b2", "x"), (3, "c", "y")).toDF("id", "v", "extra")
    val got = Merge.upsertEvolving(base, upd, Seq("id"))
      .orderBy("id").as[(Int, String, Option[String])].collect().toSeq
    assert(got == Seq((1, "a", None), (2, "b2", Some("x")), (3, "c", Some("y"))))
    // idempotent like plain upsert
    val twice = Merge.upsertEvolving(
      Merge.upsertEvolving(base, upd, Seq("id")), upd, Seq("id"))
      .orderBy("id").as[(Int, String, Option[String])].collect().toSeq
    assert(twice == got)
  }

  test("Merge.scd2: closes changed, passes history/no-op, inserts fresh") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")
    val current = Seq(
      (1, "old", ts("2024-01-01"), Some(ts("2024-02-01"))), // history row
      (1, "a", ts("2024-02-01"), None),                     // open, will change
      (2, "b", ts("2024-01-01"), None),                     // open, no-op update
      (3, "c", ts("2024-01-01"), None)                      // open, no update
    ).toDF("id", "v", "valid_from", "valid_to")
    val updates = Seq(
      (1, "a2", ts("2024-03-01")),
      (2, "b", ts("2024-03-01")), // identical attr → no-op
      (9, "z", ts("2024-03-01"))  // fresh key
    ).toDF("id", "v", "eff")
    val got = Merge.scd2(current, updates, Seq("id"), Seq("v"), "eff")
      .orderBy("id", "valid_from")
      .as[(Int, String, Timestamp, Option[Timestamp])].collect().toSeq
    assert(got == Seq(
      (1, "old", ts("2024-01-01"), Some(ts("2024-02-01"))),
      (1, "a", ts("2024-02-01"), Some(ts("2024-03-01"))),
      (1, "a2", ts("2024-03-01"), None),
      (2, "b", ts("2024-01-01"), None),
      (3, "c", ts("2024-01-01"), None),
      (9, "z", ts("2024-03-01"), None)))
  }

  test("Merge.insertIfAbsent keeps existing row on key collision") {
    val base = Seq((1, "a"), (2, "b")).toDF("id", "name")
    val inc = Seq((2, "B!"), (3, "c")).toDF("id", "name")
    val got = Merge.insertIfAbsent(base, inc, Seq("id"))
      .orderBy("id").as[(Int, String)].collect().toSeq
    assert(got == Seq((1, "a"), (2, "b"), (3, "c")))
  }

  test("Merge.updateColumns patches only named columns for matched keys") {
    val base = Seq((1, "a", 10), (2, "b", 20)).toDF("id", "name", "v")
    val upd = Seq((2, 99)).toDF("id", "v")
    val got = Merge.updateColumns(base, upd, Seq("id"), Seq("v"))
      .orderBy("id").as[(Int, String, Int)].collect().toSeq
    assert(got == Seq((1, "a", 10), (2, "b", 99)))
  }

  test("Merge.newOnly drops already-seen business keys") {
    val existing = Seq(("b1", "r1"), ("b1", "r2")).toDF("borough", "ref")
    val inc = Seq(("b1", "r1"), ("b1", "r3")).toDF("borough", "ref")
    val got = Merge.newOnly(inc, existing, Seq("borough", "ref"))
      .as[(String, String)].collect().toSeq
    assert(got == Seq(("b1", "r3")))
  }

  // ---- Dedup --------------------------------------------------------------

  test("Dedup.hash56 matches the md5-derived fixture (DuckDB parity)") {
    val got = Seq("abc", "hello world").toDF("s")
      .select(Dedup.hash56($"s")).as[Long].collect().toSeq
    assert(got == Seq(35994886058514134L, 57801943592127379L))
  }

  test("Dedup.charShingles produces distinct n-grams") {
    val got = Seq("ababab").toDF("s")
      .select(Dedup.charShingles($"s", 3)).as[Seq[String]].collect()(0)
    assert(got.sorted == Seq("aba", "bab"))
  }

  test("Dedup.minhashPairs finds planted near-duplicates only") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and agaim"),
      (3L, "completely different content about spark query engines here"),
      (4L, "zzz unrelated words qqq xxx yyy vvv www uuu ttt sss rrr")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("Dedup.minhashPairs caps hot buckets — boilerplate can't go quadratic") {
    // 60 identical boilerplate docs land in the same bucket in every band
    // (60*59/2 = 1770 candidate pairs uncapped); one genuine near-dup pair
    // with distinct text sits in its own buckets.
    val boiler = (100L until 160L).map(i =>
      (i, "standard legal boilerplate footer text all rights reserved"))
    val docs = (boiler ++ Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and agaim")
    )).toDF("doc_id", "text")
    val capped = Dedup.minhashPairs(docs, "doc_id", "text",
      threshold = 0.5, maxBucketSize = 20)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == Set((1L, 2L)),
      "hot-bucket members must be dropped, distinct near-dups kept")
    val uncapped = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
      .count()
    assert(uncapped == 1770 + 1, "default cap must not drop small buckets")
  }

  test("prefix-filter Jaccard join equals the all-pairs ground truth") {
    // the prefix theorem's zero-false-negative guarantee, checked against
    // a brute-force quadratic scan of the whole sf0.001 corpus
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val got = Dedup.jaccardPrefixPairs(docs, "doc_id", "text",
      n = 5, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sets = docs
      .select($"doc_id", graft.plans.ShingleHash.shingleHash($"text", 5))
      .as[(Long, Seq[Long])].collect()
      .map { case (id, hs) => id -> hs.toSet }.sortBy(_._1)
    val want = (for {
      i <- sets.indices; j <- (i + 1) until sets.length
      inter = (sets(i)._2 & sets(j)._2).size
      union = sets(i)._2.size + sets(j)._2.size - inter
      if union > 0 && inter.toDouble / union >= 0.5
    } yield (sets(i)._1, sets(j)._1)).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    assert(want.nonEmpty, "corpus must contain planted near-dups")
  }

  test("Dedup.connectedComponents collapses transitive dup chains") {
    // chain 1-2-3 (1~3 never scored), pair 10-11, plus 20-21-22 triangle
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    val canon = Dedup.canonicalClusters(Dedup.connectedComponents(pairs))
      .as[(Long, Long, String)].collect().toSet
    assert(canon == Set((1L, 3L, "1,2,3"), (10L, 2L, "10,11"),
      (20L, 3L, "20,21,22")))
  }

  test("Dedup.simhash32 identical for identical input, close for near-dup") {
    val df = Seq(
      (1L, "aaaa bbbb cccc dddd eeee"),
      (2L, "aaaa bbbb cccc dddd eeee"),
      (3L, "totally different words entirely elsewhere")
    ).toDF("id", "text")
      .select($"id", Dedup.simhash32(Dedup.charShingles($"text", 5)).as("sh"))
    val m = df.as[(Long, Long)].collect().toMap
    assert(m(1L) == m(2L))
    assert(java.lang.Long.bitCount(m(1L) ^ m(3L)) > 4)
  }

  // ---- Sketches -----------------------------------------------------------

  test("a18 sketches track the exact aggregates within tolerance") {
    // a18 now carries the tolerance check in-query (hll_ok/p50_ok, which
    // the oracle asserts TRUE); this pins the same contract at sf0.001,
    // the scale the driver's gate doesn't run.
    val rows = graft.queries.Coverage.a18Sketches
      .run(spark, "/root/testdata/sf0.001")
      .select("event_type", "hll_ok", "p50_ok")
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (k, hllOk, p50Ok) =>
      assert(hllOk, s"$k: HLL estimate strayed past 10% of exact distinct")
      assert(p50Ok, s"$k: approx median outside exact [p40, p60]")
    }
  }

  // ---- Temporal -----------------------------------------------------------

  test("Temporal.overlapJoin: exactly-once pairs, closed ends, no distinct pass") {
    import java.sql.Timestamp
    import graft.operators.Temporal
    def t(s: String) = Timestamp.valueOf(s)
    // left interval spans MANY bins (exactly-once check), pairs touch at
    // an endpoint (closed-interval check), and a disjoint pair is absent
    val l = Seq(
      (1L, t("2024-01-01 00:00:00"), t("2024-01-01 23:00:00")), // wide
      (2L, t("2024-01-02 10:00:00"), t("2024-01-02 11:00:00"))
    ).toDF("l_id", "l_s", "l_e")
    val r = Seq(
      (10L, t("2024-01-01 22:00:00"), t("2024-01-01 23:59:00")), // overlaps 1
      (11L, t("2024-01-01 23:00:00"), t("2024-01-02 01:00:00")), // touches 1's end
      (12L, t("2024-01-02 12:00:00"), t("2024-01-02 13:00:00"))  // disjoint
    ).toDF("r_id", "r_s", "r_e")
    val got = Temporal.overlapJoin(l, "l_s", "l_e", r, "r_s", "r_e",
        binSeconds = 3600L)
      .select("l_id", "r_id").as[(Long, Long)].collect().sorted
    assert(got.toSeq == Seq((1L, 10L), (1L, 11L)), s"got ${got.toSeq}")
    // plan shape: the exactly-once trick means no Distinct/Aggregate node
    val plan = Temporal.overlapJoin(l, "l_s", "l_e", r, "r_s", "r_e", 3600L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("Temporal.asofJoin attaches the latest right row at or before ts") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val left = Seq(
      (1L, 7L, t("2024-01-01 10:00:00")),  // before any rate -> null
      (2L, 7L, t("2024-01-01 12:00:00")),  // exactly at rate 2 -> 2.0
      (3L, 7L, t("2024-01-01 13:30:00")),  // between 2 and 3 -> 2.0
      (4L, 8L, t("2024-01-01 13:00:00")))  // other key -> 9.0
      .toDF("id", "k", "ts")
    val right = Seq(
      (7L, t("2024-01-01 11:00:00"), 1.0),
      (7L, t("2024-01-01 12:00:00"), 2.0),
      (7L, t("2024-01-01 14:00:00"), 3.0),
      (8L, t("2024-01-01 09:00:00"), 9.0))
      .toDF("k", "rts", "rate")
    val got = Temporal.asofJoin(left, right, Seq("k"), "ts", "rts", Seq("rate"))
      .select("id", "rate").as[(Long, Option[Double])].collect().toSet
    assert(got == Set((1L, None), (2L, Some(2.0)), (3L, Some(2.0)),
      (4L, Some(9.0))))
  }

  test("Temporal.rangeJoin finds containing intervals across bin edges") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val points = Seq((1L, t("2024-01-01 10:30:00")),
      (2L, t("2024-01-01 11:59:59")), (3L, t("2024-01-01 15:00:00")))
      .toDF("pid", "pts")
    val iv = Seq((100L, t("2024-01-01 10:00:00"), t("2024-01-01 12:00:00")),
      (200L, t("2024-01-01 11:00:00"), t("2024-01-01 11:59:59")))
      .toDF("iid", "s", "e")
    val got = Temporal.rangeJoin(points, "pts", iv, "s", "e", binSeconds = 1800)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 100L), (2L, 100L), (2L, 200L)))
  }

  // ---- Similarity ---------------------------------------------------------

  test("Similarity.cosine known values") {
    val df = Seq((Array(1f, 0f), Array(0f, 1f)), (Array(1f, 1f), Array(1f, 1f)))
      .toDF("a", "b").select(Similarity.cosine($"a", $"b").as("c"))
    val got = df.as[Double].collect()
    assert(math.abs(got(0)) < 1e-12)
    assert(math.abs(got(1) - 1.0) < 1e-12)
  }

  test("Similarity.bruteForceTopK ranks by cosine desc") {
    val vs = Seq(
      (0L, Array(1f, 0f, 0f)),
      (10L, Array(0.9f, 0.1f, 0f)),
      (11L, Array(0f, 1f, 0f)),
      (12L, Array(0.5f, 0.5f, 0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(
      vs.filter($"vec_id" === 0), vs.filter($"vec_id" > 0),
      "vec_id", "embedding", k = 2)
      .select("cand_id", "rank").as[(Long, Int)].collect().toSeq.sortBy(_._2)
    assert(got == Seq((10L, 1), (12L, 2)))
  }

  test("Similarity.lshTopK only scores same-bucket candidates") {
    val vs = Seq(
      (0L, Array.fill(64)(1f)),
      (10L, Array.fill(64)(1f)),
      (11L, Array.fill(64)(-1f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.lshTopK(
      vs.filter($"vec_id" === 0), vs.filter($"vec_id" > 0),
      "vec_id", "embedding", k = 5, planes = 8, dims = 64)
      .select("cand_id").as[Long].collect().toSet
    assert(got == Set(10L)) // opposite vector lands in the complement bucket
  }

  test("Similarity.kmeansFixed converges to the two planted clusters") {
    // Two tight blobs around +1 and -1; seeds (ids 0 and 4) start one
    // per blob, so after refinement each cluster holds its blob exactly.
    def v(base: Float, eps: Float) = Array.tabulate(64)(i => base + eps * (i % 3))
    val vs = Seq(
      (0L, v(1f, 0.001f)), (1L, v(1f, 0.002f)), (2L, v(1f, 0.003f)),
      (4L, v(-1f, 0.001f)), (5L, v(-1f, 0.002f)), (6L, v(-1f, 0.003f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.kmeansFixed(vs, "vec_id", "embedding",
      seedStride = 4, iters = 2)
      .orderBy("cluster_id").as[(Long, Long, Long)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) == Seq((0L, 3L), (4L, 3L)))
    // ssd is exact fixed-point: recompute one cluster by hand.
    val q = (x: Float) => math.floor(x.toDouble * 1000000).toLong
    val blob = Seq(v(1f, 0.001f), v(1f, 0.002f), v(1f, 0.003f)).map(_.map(q))
    // Scala Long '/' truncates toward zero, same as Spark DIV.
    val cent = Array.tabulate(64)(i => blob.map(_(i)).sum / 3)
    val ssd = blob.map(b => b.zip(cent).map { case (a, c) =>
      (a - c) * (a - c) }.sum).sum
    assert(got.head._3 == ssd)
  }

  test("Similarity.semanticDupPairs: codebook is the k smallest-hash rows, size-bounded") {
    // Two planted blobs of identical-direction vectors.
    def v(base: Float) = Array.tabulate(64)(i => base * (1f + 0.001f * (i % 5)))
    val vs = (0L to 5L).map(i => (i, if (i < 3) v(1f) else v(-1f)))
      .toDF("vec_id", "embedding")
    // k = N: every row is a centroid; same-direction vectors tie at
    // cos ~ 1 and pick the smallest centroid id -> one cell per blob
    val pairs = Similarity.semanticDupPairs(vs, "vec_id", "embedding",
      k = 6, threshold = 0.9)
      .select("cell", "id_a", "id_b").as[(Long, Long, Long)].collect().toSet
    assert(pairs == Set((0L, 0L, 1L), (0L, 0L, 2L), (0L, 1L, 2L),
      (3L, 3L, 4L), (3L, 3L, 5L), (3L, 4L, 5L)))
    // k < N: the codebook is exactly the k rows with the smallest
    // (hash56(id), id) — every assigned cell id must be one of them
    val seeds = vs.select(col("vec_id"),
        Dedup.hash56(col("vec_id").cast("string")).as("h"))
      .as[(Long, Long)].collect().sortBy { case (id, h) => (h, id) }
      .take(2).map(_._1).toSet
    val cells2 = Similarity.semanticDupPairs(vs, "vec_id", "embedding",
      k = 2, threshold = -1.0)
      .select("cell").as[Long].collect().toSet
    assert(cells2.nonEmpty && cells2.subsetOf(seeds),
      s"cells $cells2 not drawn from the k-smallest-hash seeds $seeds")
    // an unbounded codebook request fails fast instead of collecting it
    intercept[IllegalArgumentException] {
      Similarity.semanticDupPairs(vs, "vec_id", "embedding",
        k = 5000, threshold = 0.9)
    }
  }

  test("Similarity.pqEncode picks per-subspace nearest codes") {
    // 4 dims, 2 subspaces of 2. Seeds 0 and 2 form the codebook.
    // Vector 1's first half matches seed 0's, second half seed 2's.
    val vs = Seq(
      (0L, Array(1f, 1f, 0f, 0f)),
      (2L, Array(0f, 0f, 1f, 1f)),
      (1L, Array(1f, 1f, 1f, 1f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.pqEncode(vs, "vec_id", "embedding",
      seedStride = 2, subspaces = 2)
      .orderBy("vec_id").as[(Long, Seq[Long], Long)].collect().toSeq
    assert(got.map(_._2) == Seq(Seq(0L, 0L), Seq(0L, 2L), Seq(2L, 2L)))
    assert(got.map(_._3) == Seq(0L, 0L, 0L)) // all halves match exactly
  }

  test("Similarity.pqRefineCodebooks: iters=0 is the sliced seeds; one round is the member DIV-mean per subspace") {
    // 4 dims, 2 subspaces of 2; seeds = ids 0 and 2 (stride 2).
    val vs = Seq(
      (0L, Array(1f, 1f, 0f, 0f)),
      (1L, Array(1f, 1f, 1f, 1f)),
      (2L, Array(0f, 0f, 1f, 1f)),
      (3L, Array(3f, 3f, 3f, 3f))
    ).toDF("vec_id", "embedding")
    val m = 1000000L
    val sliced = Similarity.pqRefineCodebooks(vs, "vec_id", "embedding",
      seedStride = 2, subspaces = 2, iters = 0)
    assert(sliced == Seq(
      Seq((0L, Seq(m, m)), (2L, Seq(0L, 0L))),
      Seq((0L, Seq(0L, 0L)), (2L, Seq(m, m)))))
    // Subspace 0 assignment: v0,v1->cell0 exactly; v3 (3,3) is nearer
    // (1,1) than (0,0) -> cell0; v2 -> cell2. Mirror-image in subspace 1.
    // DIV-mean of {1,1,3}*1e6 = 5000000 DIV 3 = 1666666 per component.
    val one = Similarity.pqRefineCodebooks(vs, "vec_id", "embedding",
      seedStride = 2, subspaces = 2, iters = 1)
    assert(one == Seq(
      Seq((0L, Seq(1666666L, 1666666L)), (2L, Seq(0L, 0L))),
      Seq((0L, Seq(0L, 0L)), (2L, Seq(1666666L, 1666666L)))))
  }

  test("Similarity.pqAdcTopKRefined with iters=0 is bit-identical to pqAdcTopK") {
    // Deterministic 8-dim fixture: 12 candidates, 2 queries.
    def v(seed: Long) = Array.tabulate(8)(i =>
      (((seed * 31 + i * 17 + 7) % 23) - 11).toFloat / 11f)
    val cand = (10L to 21L).map(i => (i, v(i))).toDF("vec_id", "embedding")
    val qs = Seq((0L, v(101L)), (1L, v(202L))).toDF("vec_id", "embedding")
    def run(df: => org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Int, Long)].collect().toSet
    val base = run(Similarity.pqAdcTopK(qs, cand, "vec_id", "embedding",
      seedStride = 4, subspaces = 2, k = 3))
    val zero = run(Similarity.pqAdcTopKRefined(qs, cand, "vec_id", "embedding",
      seedStride = 4, subspaces = 2, iters = 0, k = 3))
    assert(base == zero && base.nonEmpty)
  }

  // ---- TextAnalysis -------------------------------------------------------

  test("TextAnalysis.langId picks the profile with most stopword hits") {
    val df = Seq(
      "the cat is on the mat with a hat",
      "le chat est sur la table avec un livre",
      "der hund ist mit der katze und dem ball",
      "xyzzy plugh").toDF("text")
      .select(TextAnalysis.langId($"text").as("l"))
    assert(df.as[String].collect().toSeq == Seq("en", "fr", "de", "und"))
  }

  test("TextAnalysis word/subtoken counts") {
    val df = Seq("Hello, world! 42 times").toDF("text")
      .select(TextAnalysis.wordCount($"text").as("w"),
        TextAnalysis.subTokenCount($"text").as("s"))
    val (w, s) = df.as[(Int, Int)].collect()(0)
    assert(w == 4)
    // Hello , world ! 42 times
    assert(s == 6)
  }

  test("TextAnalysis.gopherRules: each rule fires on its crafted violator only") {
    val good = (("the quick brown fox jumps over and over the lazy dog " * 5) +
      "that it can have fun with it be done of course").trim
    val docs = Seq(
      (0L, good),                                    // passes everything
      (1L, "the of and"),                            // too few words
      (2L, ("a " * 60).trim + " the of"),            // mean word len < 3
      (3L, good + " " + ("# " * 20).trim),           // symbol soup
      (4L, good.split(" ").mkString("\n- ")),        // bullet lines
      (5L, good.split(" ").mkString("...\n")),       // ellipsis line ends
      (6L, ("42 " * 40).trim + " the of"),           // digit-only words
      (7L, ("spark row scan " * 20).trim)            // no Gopher stopwords
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("r_wc", "r_mwl", "r_sym", "r_bullet", "r_ellipsis", "r_alpha",
        "r_stop", "keep")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got(0) == ((1L, 1L, 1L, 1L, 1L, 1L, 1L, 1L)), s"good doc: ${got(0)}")
    assert(got(1)._1 == 0L && got(1)._8 == 0L, "word count floor")
    assert(got(2)._2 == 0L, "mean word length floor")
    assert(got(3)._3 == 0L, "symbol ratio")
    assert(got(4)._4 == 0L, "bullet lines")
    assert(got(5)._5 == 0L, "ellipsis line ends")
    assert(got(6)._6 == 0L, "alpha-word ratio")
    assert(got(7)._7 == 0L && got(7)._8 == 0L, "stop-word hits")
  }

  test("Temporal.gapFillDaily: complete spine, zero-filled counts, carried values") {
    import java.sql.Date
    val daily = Seq(
      (1L, Date.valueOf("2024-01-01"), 2L, Some(10.0)),
      (1L, Date.valueOf("2024-01-04"), 1L, Some(40.0)),
      (2L, Date.valueOf("2024-01-02"), 3L, None: Option[Double])
    ).toDF("k", "day", "n", "v")
    val got = Temporal.gapFillDaily(daily, "k", "day",
        zeroFill = Seq("n"), ffill = Seq("v"))
      .orderBy("k", "day")
      .select("k", "day", "n", "v_filled")
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
    assert(got.length == 5, s"key 1 spans 4 days + key 2 spans 1: ${got.toSeq}")
    assert(got(0) == ((1L, "2024-01-01", 2L, Some(10.0))))
    assert(got(1) == ((1L, "2024-01-02", 0L, Some(10.0))), "gap day: zero count, carried value")
    assert(got(2) == ((1L, "2024-01-03", 0L, Some(10.0))))
    assert(got(3) == ((1L, "2024-01-04", 1L, Some(40.0))), "new observation replaces the carry")
    assert(got(4) == ((2L, "2024-01-02", 3L, None)), "no leading value is fabricated")
  }

  test("TextAnalysis.c4Rules: line keeps and page drops fire on their crafted shapes only") {
    val s1 = "a first proper sentence with enough words here."
    val s2 = "a second proper sentence with enough words here."
    val s3 = "a third proper sentence with enough words also."
    val docs = Seq(
      (0L, Seq(s1, s2, s3).mkString("\n")),              // clean pass
      (1L, Seq(s1, s2).mkString("\n")),                  // < 3 sentences
      (2L, Seq(s1, "too short.", s2, s3).mkString("\n")), // short line dropped, page kept
      (3L, Seq(s1, "please enable javascript to continue browsing.", s2, s3)
        .mkString("\n")),                                 // js line dropped, page kept
      (4L, Seq(s1, "read our privacy policy before continuing to browse.", s2, s3)
        .mkString("\n")),                                 // policy line dropped, page kept
      (5L, Seq(s1, s2, s3).mkString("\n") + " lorem ipsum dolor"), // page drop
      (6L, Seq(s1, s2, s3).mkString("\n") + " { code }"),          // page drop
      (7L, Seq(s1, s2, s3, "this line mentions profanity in passing today.")
        .mkString("\n"))                                  // blocklist page drop
    ).toDF("doc_id", "text")
    val got = TextAnalysis.c4Rules(docs, "doc_id", "text").orderBy("doc_id")
      .select("n_lines", "n_kept_lines", "n_sentences", "r_sent", "r_lorem",
        "r_brace", "r_bad", "keep")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got(0) == ((3L, 3L, 3L, 1L, 1L, 1L, 1L, 1L)), s"clean page: ${got(0)}")
    assert(got(1)._4 == 0L && got(1)._8 == 0L, "sentence floor")
    assert(got(2) == ((4L, 3L, 3L, 1L, 1L, 1L, 1L, 1L)), s"short line: ${got(2)}")
    assert(got(3) == ((4L, 3L, 3L, 1L, 1L, 1L, 1L, 1L)), s"js line: ${got(3)}")
    assert(got(4) == ((4L, 3L, 3L, 1L, 1L, 1L, 1L, 1L)), s"policy line: ${got(4)}")
    assert(got(5)._5 == 0L && got(5)._8 == 0L, "lorem ipsum page drop")
    assert(got(6)._6 == 0L && got(6)._8 == 0L, "brace page drop")
    assert(got(7)._7 == 0L && got(7)._8 == 0L, "blocklist page drop")
  }

  test("TextAnalysis.fingerprint is word-order invariant; rollingHash is not") {
    val df = Seq(("alpha beta gamma", "gamma beta alpha")).toDF("a", "b")
      .select(TextAnalysis.fingerprint($"a").as("fa"),
        TextAnalysis.fingerprint($"b").as("fb"),
        TextAnalysis.rollingHash($"a").as("ra"),
        TextAnalysis.rollingHash($"b").as("rb"))
    val r = df.collect()(0)
    assert(r.getString(0) == r.getString(1))
    assert(r.getLong(2) != r.getLong(3))
  }

  test("TextAnalysis.rollingHash matches hand-computed fixture") {
    val got = Seq("abc").toDF("s")
      .select(TextAnalysis.rollingHash($"s")).as[Long].collect()(0)
    assert(got == 96354L)
  }

  // ---- Multimodal ---------------------------------------------------------

  test("WAV codec: encode-decode round trip, unknown chunks skipped, garbage rejected") {
    import graft.operators.{Multimodal, WavMeta}
    val samples = Array[Short](0, 1000, -1000, 32767, -32768, 7)
    val wav = Multimodal.pcm16Wav(8000, samples)
    assert(wav.length == 44 + 12)
    val m = Multimodal.decodeWav(1L, wav)
    assert(m == WavMeta(1L, 8000L, 1L, 16L, 6L, 0L,
      0L + 1000 + 1000 + 32767 + 32768 + 7))
    // a conformant reader SKIPS unknown chunks: splice a LIST chunk
    // between fmt and data — decode must be unchanged
    val list = "LIST".getBytes("US-ASCII") ++
      java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(4).array() ++
      "INFO".getBytes("US-ASCII")
    val spliced = wav.slice(0, 36) ++ list ++ wav.slice(36, wav.length)
    assert(Multimodal.decodeWav(1L, spliced) == m,
      "unknown chunks must be skipped, not break the parse")
    // loud rejection of non-WAV bytes (no silent garbage metadata)
    intercept[IllegalArgumentException] {
      Multimodal.decodeWav(2L, "definitely not a riff file".getBytes)
    }
  }

  test("BMP codec: round trip incl. odd-width padding; identity resize; garbage rejected") {
    import graft.operators.Multimodal
    // odd width (5): rows are 15 bytes + 1 pad — the case a naive
    // parser gets wrong
    val px: Multimodal.PixelFn = (x, y) => (x * 10 + y, 200 - x, x * y % 256)
    val bytes = Multimodal.bmp24(5, 3, px)
    val d = Multimodal.decodeBmp(1L, bytes)
    assert(d.width == 5 && d.height == 3)
    for (x <- 0 until 5; y <- 0 until 3)
      assert(d.px(x, y) == px(x, y), s"pixel ($x,$y) mangled")
    // identity resize preserves every pixel (nearest-neighbor with
    // scale 1 reads (x, y) itself)
    val same = Multimodal.decodeBmp(1L, Multimodal.resizeBmp(1L, bytes, 5, 3))
    for (x <- 0 until 5; y <- 0 until 3) assert(same.px(x, y) == px(x, y))
    // 2x downscale reads the even source pixels
    val half = Multimodal.decodeBmp(1L, Multimodal.resizeBmp(1L,
      Multimodal.bmp24(8, 6, px), 4, 3))
    for (x <- 0 until 4; y <- 0 until 3)
      assert(half.px(x, y) == px(2 * x, 2 * y))
    intercept[IllegalArgumentException] {
      Multimodal.decodeBmp(2L, "not an image at all".getBytes)
    }
  }

  test("AVI demux: frame boundaries from the container walk; header/movi mismatch rejected") {
    import graft.operators.Multimodal
    val frames = Seq(Array[Byte](1, 2, 3), Array[Byte](4, 5), // odd len → pad
      Array[Byte](6, 7, 8, 9))
    val avi = Multimodal.aviMjpg(100000, 32, 24, frames)
    val (meta, ranges) = Multimodal.demuxAvi(1L, avi)
    assert(meta.width == 32 && meta.height == 24 &&
      meta.us_per_frame == 100000 && meta.n_frames == 3)
    val decoded = ranges.map { case (from, len) => avi.slice(from, from + len).toSeq }
    assert(decoded == frames.map(_.toSeq),
      "demuxed frame bytes must equal what was written (pad excluded)")
    // a truncated movi (one frame chopped off) contradicts the header
    val chopped = avi.slice(0, avi.length - 12)
    intercept[IllegalArgumentException] {
      Multimodal.demuxAvi(2L, chopped)
    }
    intercept[IllegalArgumentException] {
      Multimodal.demuxAvi(3L, "not a movie".getBytes)
    }
  }

  test("GFV1: P-frame fold reconstructs state; corrupt payloads rejected") {
    import graft.operators.Multimodal
    // keyframe all-10s; frame 1 sets px 0 to 200 then overwrites it to
    // 50 (list order wins); frame 2 sets px 5 to 0 — each checksum is
    // the fold's running state, so any misordering changes it
    val key = Array.fill(6 * 4)(10.toByte)
    val clip = Multimodal.gfv1(6, 4, key,
      Seq(Seq((0, 200), (0, 50)), Seq((5, 0))))
    val stats = Multimodal.decodeGfv1(9L, clip).toSeq
    assert(stats.map(s => (s.frame_idx, s.checksum, s.n_writes)) == Seq(
      (0L, 240L, 0L),           // 24 x 10
      (1L, 240L - 10 + 50, 2L), // last write wins: px0 = 50, not 200
      (2L, 280L - 10, 1L)))     // px5 -> 0
    intercept[IllegalArgumentException] {
      Multimodal.decodeGfv1(2L, "not a clip".getBytes)
    }
    // a write outside the frame must fail loudly, not corrupt memory
    val bad = Multimodal.gfv1(6, 4, key, Seq(Seq((999, 1))))
    intercept[IllegalArgumentException] { Multimodal.decodeGfv1(3L, bad).toSeq }
  }

  test("PNG codec: all five filters round-trip through DEFLATE; CRC corruption rejected") {
    import graft.operators.Multimodal
    // height 10 → rows exercise filter types 0..4 twice each
    val px = (x: Int, y: Int) => (x * 13 + y * 29 + (x * y) % 7) % 256
    val png = Multimodal.pngGray(9, 10, px)
    val d = Multimodal.decodePng(1L, png)
    assert(d.width == 9 && d.height == 10)
    for (x <- 0 until 9; y <- 0 until 10)
      assert(d.px(x, y) == px(x, y), s"pixel ($x,$y) mangled by filter ${y % 5}")
    // CRC verification is real: flip one IDAT byte, decode must refuse
    val corrupt = png.clone()
    corrupt(8 + 25 + 12 + 8) = (corrupt(8 + 25 + 12 + 8) ^ 0x5a).toByte
    intercept[IllegalArgumentException] {
      Multimodal.decodePng(2L, corrupt)
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodePng(3L, "png? no.".getBytes)
    }
  }

  test("codec hardening: corrupt chunk lengths and short IDAT fail loudly, never loop") {
    import graft.operators.Multimodal
    // WAV: a negative chunk length makes the word-aligned step 0/negative
    // — an unguarded walker spins forever instead of rejecting
    val wav = Multimodal.pcm16Wav(8000, Array[Short](1, 2, 3))
    val badWav = wav.clone()
    java.nio.ByteBuffer.wrap(badWav).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(40, -9) // the data chunk's length field
    intercept[IllegalArgumentException] { Multimodal.decodeWav(1L, badWav) }
    // AVI: same hazard in the RIFF list walk
    val avi = Multimodal.aviMjpg(100000, 32, 24, Seq(Array[Byte](1, 2)))
    val badAvi = avi.clone()
    java.nio.ByteBuffer.wrap(badAvi).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(16, -9) // first LIST chunk's length field
    intercept[IllegalArgumentException] { Multimodal.demuxAvi(2L, badAvi) }
    // PNG: IHDR claims more rows than the IDAT encodes, with every chunk
    // CRC recomputed valid — the zlib stream exhausts with finished()
    // still false; an unguarded inflate loop spins on 0-byte returns
    val png = Multimodal.pngGray(4, 3, (x, y) => x + y)
    val tall = png.clone()
    java.nio.ByteBuffer.wrap(tall).putInt(20, 8) // IHDR height 3 → 8 (BE)
    val crc = new java.util.zip.CRC32()
    crc.update(tall, 12, 4 + 13) // chunk type + IHDR data
    java.nio.ByteBuffer.wrap(tall).putInt(29, crc.getValue.toInt)
    val e = intercept[IllegalArgumentException] { Multimodal.decodePng(3L, tall) }
    assert(e.getMessage.contains("short IDAT"), e.getMessage)
  }

  test("JPEG codec (JDK ImageIO): encode-decode within quality tolerance; garbage rejected; distributed metadata") {
    import graft.operators.Multimodal
    // smooth gradient — JPEG is built for these; quality 0.95 keeps
    // per-pixel error small. Tolerance, not equality: decode output is
    // JDK-implementation-dependent (IDCT rounding), which is why this
    // path is property-tested and NOT DuckDB-oracled.
    val w = 48; val h = 32
    val px = (x: Int, y: Int) => math.min(255, 40 + 3 * x + 2 * y)
    val bytes = Multimodal.jpegGray(w, h, px)
    assert(bytes.length > 2 &&
      (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8,
      "output must carry the JPEG SOI marker")
    val d = Multimodal.decodeJpeg(1L, bytes)
    assert(d.width == w && d.height == h)
    var maxErr = 0
    for (x <- 0 until w; y <- 0 until h)
      maxErr = math.max(maxErr, math.abs(d.px(x, y) - px(x, y)))
    assert(maxErr <= 8, s"round-trip per-pixel error $maxErr exceeds tolerance")
    // lower quality degrades but still decodes to the right geometry
    val lo = Multimodal.decodeJpeg(2L, Multimodal.jpegGray(w, h, px, 0.3f))
    assert(lo.width == w && lo.height == h)
    intercept[IllegalArgumentException] {
      Multimodal.decodeJpeg(3L, "not a jpeg at all".getBytes)
    }
    // distributed metadata extraction: per-partition iterator decode,
    // px_sum within tolerance of the ideal sum
    val media = (0L until 6L).map { id =>
      (id, "img", Multimodal.jpegGray(w, h, (x, y) => px(x, y)))
    }.toDF("doc_id", "media_type", "payload")
    val metas = Multimodal.extractJpegMetadata(spark, media).collect()
    assert(metas.length == 6)
    val ideal = (for (x <- 0 until w; y <- 0 until h) yield px(x, y).toLong).sum
    metas.foreach { m =>
      assert(m.width == w && m.height == h)
      assert(math.abs(m.px_sum - ideal) <= 2L * w * h,
        s"doc ${m.doc_id}: px_sum ${m.px_sum} too far from ideal $ideal")
    }
  }

  test("MJPEG: real video pixel decode — demux + per-frame JPEG, tolerance-checked") {
    import graft.operators.Multimodal
    val w = 32; val h = 24
    val docs = (0L until 8L).toDF("doc_id")
    val media = Multimodal.toMjpegAviTable(spark, docs, w, h)
    // the files are REAL AVIs: the untouched demuxer sees the same
    // frame count the MJPEG writer encoded
    val frames = Multimodal.decodeMjpegFrames(spark, media).collect()
    assert(frames.length == (0L until 8L).map(id => 3 + id % 4).sum)
    frames.foreach { f =>
      assert(f.width == w && f.height == h,
        s"doc ${f.doc_id} frame ${f.frame_idx}: ${f.width}x${f.height}")
      val px = Multimodal.mjpegPixel(f.doc_id, f.frame_idx.toInt)
      val ideal =
        (for (x <- 0 until w; y <- 0 until h) yield px(x, y).toLong).sum
      assert(math.abs(f.px_sum - ideal) <= 2L * w * h,
        s"doc ${f.doc_id} frame ${f.frame_idx}: px_sum ${f.px_sum} " +
          s"too far from ideal $ideal")
    }
    // frames differ (the gradient moves): consecutive px_sums strictly
    // increase by ~5·w·h per frame index
    val byDoc = frames.groupBy(_.doc_id).values
    byDoc.foreach { fs =>
      val sums = fs.sortBy(_.frame_idx).map(_.px_sum)
      sums.sliding(2).foreach {
        case Array(a, b) => assert(b > a, s"expected moving gradient, $sums")
        case _           => ()
      }
    }
    // every=2 samples half the frames
    val sampled = Multimodal.decodeMjpegFrames(spark, media, every = 2)
      .collect()
    assert(sampled.forall(_.frame_idx % 2 == 0))
    assert(sampled.length == frames.count(_.frame_idx % 2 == 0))
  }

  test("codec property: random PNG images and WAV streams round-trip bit-exactly") {
    import graft.operators.Multimodal
    val rnd = new scala.util.Random(11)
    (1 to 10).foreach { trial =>
      // PNG: arbitrary small dims (incl. 1×1) and arbitrary pixels —
      // every row still cycles a different filter type
      val w = 1 + rnd.nextInt(24)
      val h = 1 + rnd.nextInt(16)
      val img = Array.fill(h, w)(rnd.nextInt(256))
      val d = Multimodal.decodePng(trial.toLong,
        Multimodal.pngGray(w, h, (x, y) => img(y)(x)))
      assert(d.width == w && d.height == h)
      for (x <- 0 until w; y <- 0 until h)
        assert(d.px(x, y) == img(y)(x), s"trial $trial pixel ($x,$y)")
      // WAV: arbitrary sample counts (incl. 0) and full 16-bit range
      val n = rnd.nextInt(50)
      val s = Array.fill(n)((rnd.nextInt(65536) - 32768).toShort)
      val m = Multimodal.decodeWav(trial.toLong,
        Multimodal.pcm16Wav(8000 + rnd.nextInt(40000), s))
      assert(m.n_samples == n &&
        m.abs_sum == s.map(v => math.abs(v.toLong)).sum,
        s"trial $trial WAV stats")
    }
  }

  test("Multimodal frame sampling and feature extraction") {
    val docs = Seq((1L, "a" * 220)).toDF("doc_id", "text")
    val frames = Multimodal.sampleFrames(spark, Multimodal.toMediaTable(docs))
      .collect().sortBy(_.frame_idx)
    // 220 bytes -> 5 frames (0..4), sampled every 4th -> idx 0 and 4
    assert(frames.map(_.frame_idx).toSeq == Seq(0, 4))
    assert(frames(0).frame.length == 50)
    assert(frames(1).frame.length == 20) // tail frame is short
    val feats = Multimodal.frameFeatures(spark,
      Multimodal.sampleFrames(spark, Multimodal.toMediaTable(docs)))
      .collect().sortBy(_._2)
    assert(feats.head._3.length == 8)
    assert(feats.head._3(0) == 'a'.toFloat) // mean byte of "aaaa..." is 'a'
    assert(feats.head._3(1) == 50.0f)
  }

  test("Multimodal metadata pipeline: byte counts, frames, checksum") {
    val docs = Seq((0L, "abc"), (1L, "x" * 120)).toDF("doc_id", "text")
    val got = Multimodal.extractMetadata(spark, Multimodal.toMediaTable(docs))
      .collect().sortBy(_.doc_id)
    assert(got(0) == MediaMeta(0L, "img", 3L, 1L, ('a' + 'b' + 'c').toLong))
    assert(got(1) == MediaMeta(1L, "aud", 120L, 3L, 120L * 'x'))
  }

  test("Curation funnel: ordered stages, monotone survivors, real attrition") {
    val f = Curation.funnel(Tables.load(spark, "/root/testdata/sf0.001", "documents"))
      .orderBy("stage_ord").collect()
    assert(f.map(_.getString(1)).toSeq ==
      Seq("raw", "lang", "quality", "exact", "near_dup"))
    val docs = f.map(_.getLong(2)).toSeq
    val words = f.map(_.getLong(3)).toSeq
    assert(docs.zip(docs.tail).forall { case (a, b) => b <= a },
      s"stage survivors must never grow: $docs")
    assert(words.zip(words.tail).forall { case (a, b) => b <= a })
    assert(docs.last > 0, "curation must not empty the corpus")
    assert(docs.last < docs.head, "curation must drop something")
  }

  test("Graph.triangleCount: K4 plus a dangling path has exactly 4 triangles") {
    val edges = Seq( // K4 over 1-4 (4 triangles), path 4-5-6 (none)
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("item_a", "item_b")
    val n = Graph.triangleCount(edges).as[Long].collect().head
    assert(n == 4L)
  }

  test("Graph.labelPropagation: disjoint cliques converge to one label each") {
    val edges = ((for { a <- 0L to 3L; b <- a + 1 to 3L } yield (a, b)) ++
      (for { a <- 10L to 13L; b <- a + 1 to 13L } yield (a, b)))
      .toDF("item_a", "item_b")
    val labels = Graph.labelPropagation(edges, iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(labels.size == 8)
    assert((0L to 3L).map(labels).toSet.size == 1,
      "first clique must share one label")
    assert((10L to 13L).map(labels).toSet.size == 1,
      "second clique must share one label")
    assert(labels(0L) != labels(10L),
      "disjoint cliques must keep distinct labels")
  }

  test("Temporal.nearestJoin: closest either side, ties to backward, null edges") {
    import graft.operators.Temporal
    def ts(sec: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(sec))
    val left = Seq((1L, 10L, ts(100)), (2L, 10L, ts(205)), (3L, 20L, ts(50)))
      .toDF("event_id", "user_id", "ts")
    // user 10 has readings at 90 and 210: left@100 → 90 (|10| < |110|),
    // left@205 → 210 (|5| < |115|); user 20 has none → nulls
    val right = Seq((10L, ts(90), 7L), (10L, ts(210), 8L))
      .toDF("user_id", "c_ts", "c_event_id")
    val nn = Temporal.nearestJoin(left, right, Seq("user_id"),
      "ts", "c_ts", Seq("c_ts", "c_event_id"))
    val backNearer = Temporal.nearerBackward($"ts", $"b_c_ts", $"f_c_ts")
    val got = nn.select($"event_id",
        when(backNearer, $"b_c_event_id").otherwise($"f_c_event_id"))
      .as[(Long, Option[Long])].collect().toMap
    assert(got == Map(1L -> Some(7L), 2L -> Some(8L), 3L -> None))
    // exact tie: left@150 is 60 from both readings → backward (7) wins
    val tie = Temporal.nearestJoin(
      Seq((9L, 10L, ts(150))).toDF("event_id", "user_id", "ts"),
      right, Seq("user_id"), "ts", "c_ts", Seq("c_ts", "c_event_id"))
    val tieGot = tie.select(
        when(Temporal.nearerBackward($"ts", $"b_c_ts", $"f_c_ts"),
          $"b_c_event_id").otherwise($"f_c_event_id"))
      .as[Long].collect().toSeq
    assert(tieGot == Seq(7L), "equidistant must resolve backward")
  }

  test("Multimodal.perceptualDupPairs: pigeonhole recall contract by distance") {
    import graft.operators.Multimodal
    // identical, 1-bit-apart, and 2-bit-apart hashes
    val hashes = Seq(
      (1L, 0xABCDL), (2L, 0xABCDL),          // hamming 0
      (3L, 0xABCDL ^ 1L),                    // hamming 1 from 1/2
      (4L, 0xABCDL ^ (1L | (1L << 40))))     // hamming 2 from 1/2
      .toDF("doc_id", "ahash")
    val d1 = Multimodal.perceptualDupPairs(hashes, bits = 48, maxDist = 1)
      .as[(Long, Long, Long)].collect().toSet
    // (3,4) differ only in bit 40 — hamming 1, found; (1,4)/(2,4) are
    // hamming 2, correctly excluded at maxDist=1
    assert(d1 == Set((1L, 2L, 0L), (1L, 3L, 1L), (2L, 3L, 1L), (3L, 4L, 1L)),
      s"maxDist=1 must find exactly the <=1 pairs, got $d1")
    // at maxDist=2 (3 bands of 16) the 2-bit pairs join in too
    val d2 = Multimodal.perceptualDupPairs(hashes, bits = 48, maxDist = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(d2.contains((1L, 4L, 2L)) && d2.contains((2L, 4L, 2L)))
    // aHash off a real encode→decode pass: identical images hash equal,
    // the synthetic perturbation lands within a couple of bits
    val same = Multimodal.aHashBmp(7L,
      Multimodal.bmp24(8, 6, Multimodal.synthGroupPixel(7L, 97)))
    val same2 = Multimodal.aHashBmp(201L, // 201 % 97 == 7, 201 % 4 != 0
      Multimodal.bmp24(8, 6, Multimodal.synthGroupPixel(201L, 97)))
    assert(same == same2, "same-group unperturbed images must hash equal")
  }

  test("Sketches HLL: estimate within 2 sigma of exact; merge == rebuild") {
    import graft.operators.Sketches
    val df = (1L to 5000L).map(i => (if (i <= 4000L) "big" else "small", i))
      .toDF("grp", "k")
    val est = Sketches.hllEstimate(Sketches.hllRegisters(df, "grp", "k"))
      .as[(String, Double)].collect().toMap
    // sigma = 1.04/sqrt(64) = 13%; allow 2 sigma
    assert(math.abs(est("big") - 4000.0) / 4000.0 < 0.26, s"big=${est("big")}")
    assert(math.abs(est("small") - 1000.0) / 1000.0 < 0.26,
      s"small=${est("small")}")
    // mergeability: sketch(A) max-merged with sketch(B) == sketch(A∪B),
    // REGISTER-identical (not merely estimate-close)
    val a = Sketches.hllRegisters(df.filter($"k" % 2 === 0), "grp", "k")
    val b = Sketches.hllRegisters(df.filter($"k" % 2 =!= 0), "grp", "k")
    val merged = Sketches.hllMerge(a, b)
      .as[(String, Long, Long)].collect().toSet
    val rebuilt = Sketches.hllRegisters(df, "grp", "k")
      .as[(String, Long, Long)].collect().toSet
    assert(merged == rebuilt)
  }

  test("Similarity.sq8TopK: integer code ranking; out-of-range queries clamp") {
    // corpus on a line: codes are monotone in the raw value, so the
    // int-dot ranking equals the raw dot ranking; the query at 99.0
    // (beyond corpus max 4.0) clamps to code 255, not beyond
    val cands = Seq(
      (10L, Seq(1.0f, 0.0f)), (11L, Seq(2.0f, 0.0f)),
      (12L, Seq(3.0f, 0.0f)), (13L, Seq(4.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val qs = Seq((1L, Seq(99.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.sq8TopK(qs, cands, "vec_id", "embedding",
        k = 4, dims = 2)
      .orderBy("rank").as[(Long, Long, Int, Long)].collect().toSeq
    // clamped query code = (255, 0); cand codes 0,85,170,255 → dots
    assert(got.map(r => (r._2, r._4)) ==
      Seq((13L, 255L * 255L), (12L, 255L * 170L),
        (11L, 255L * 85L), (10L, 0L)))
  }

  test("Graph.kcorePeel: K5 core survives 4-peel, pendant path peels away") {
    // K5 over 1-5 (every degree 4) with a pendant path 5-6-7: node 6
    // has degree 2 and 7 degree 1 — both gone after round 1, and their
    // removal does NOT drag K5 below k because 5's in-clique degree
    // stays 4
    val edges = ((for { a <- 1L to 5L; b <- a + 1 to 5L } yield (a, b)) ++
      Seq((5L, 6L), (6L, 7L))).toDF("item_a", "item_b")
    val core = Graph.kcorePeel(edges, k = 4, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(core == (1L to 5L).map(_ -> 4L).toMap)
    // k=5 peels everything: first round drops all (max degree is 4+1=5
    // for node 5 only, whose neighbors all fall)
    assert(Graph.kcorePeel(edges, k = 6, rounds = 2).count() == 0)
  }

  test("Graph.localClustering: hand-checked coefficients; corner sum = 3 x global count") {
    val edges = Seq( // K4 over 1-4 (4 triangles), path 4-5-6 (none)
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("item_a", "item_b")
    val got = Graph.localClustering(edges)
      .select("item", "degree", "n_tri", "cc_pm")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // K4 interior: deg 3, all 3 wedges closed -> cc 1000
    Seq(1L, 2L, 3L).foreach { v =>
      assert(got(v) == ((v, 3L, 3L, 1000L)), s"node $v: ${got(v)}")
    }
    // node 4: deg 4 (K4 + pendant 5), 3 triangles of 6 wedges -> 1000*3/6... in permille: 2000*3/(4*3)=500
    assert(got(4L) == ((4L, 4L, 3L, 500L)), s"node 4: ${got(4L)}")
    // path nodes: 5 has deg 2 but open wedge (cc 0), 6 is a leaf
    assert(got(5L) == ((5L, 2L, 0L, 0L)), s"node 5: ${got(5L)}")
    assert(got(6L) == ((6L, 1L, 0L, 0L)), s"node 6: ${got(6L)}")
    // every triangle credits exactly 3 corners
    assert(got.values.map(_._3).sum == 3 * 4, "corner credits != 3 x triangles")
  }

  test("Align.zipWithGlobalIndex: contiguous 1..N in sort order across partitions") {
    val orders = graft.Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .select("o_orderkey")
    val got = Align.zipWithGlobalIndex(orders, "idx", col("o_orderkey"))
      .as[(Long, Long)].collect().sortBy(_._2)
    assert(got.map(_._2).toSeq == (1L to got.length).toSeq, "contiguous index")
    assert(got.map(_._1).toSeq == got.map(_._1).sorted.toSeq,
      "index order must equal key order")
  }

  test("incrementalNearDups equals the cross-split slice of the full pair list") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val full = Dedup.minhashPairs(docs, "doc_id", "text",
        n = 5, k = 16, bands = 4, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
      .filter { case (a, b, _) => (a % 10 == 0) != (b % 10 == 0) }
      .map { case (a, b, j) => (math.min(a, b), math.max(a, b), j) }.toSet
    val inc = Dedup.incrementalNearDups(
        docs.filter(col("doc_id") % 10 =!= 0), docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (math.min(a, b), math.max(a, b), j) }.toSet
    assert(inc == full, "batch-vs-corpus must find exactly the cross-split near-dups")
  }

  test("cmsEstimate: duplicate probes each keep a row; j/b/n probe columns analyze") {
    import graft.operators.Sketches
    val data = Seq("x", "x", "x", "y", "z").toDF("k")
    val cells = Sketches.cmsCells(data, "k", d = 4, w = 64)
    // probe frame carries columns named j, b, n (the sketch's old
    // internal names) AND a duplicated probe row — both were failure
    // modes before the row-id keyed re-aggregation
    val probes = Seq(("x", 1, 2L, 3.0), ("x", 9, 8L, 7.0), ("q", 0, 0L, 0.0))
      .toDF("k", "j", "b", "n")
    val out = Sketches.cmsEstimate(probes, "k", cells, d = 4, w = 64)
      .select("k", "j", "cms_n").as[(String, Int, Long)].collect().toSet
    // three output rows (the dup survives with its own payload), counts:
    // x seen 3 times (CMS never undercounts; exact here — tiny sketch,
    // no collisions forced), unseen q = 0
    assert(out == Set(("x", 1, 3L), ("x", 9, 3L), ("q", 0, 0L)), out)
  }

  test("cutRepeatedSpans: a second pass converges (splice residue is tiny)") {
    // Lee et al.'s caveat, measured: splicing can form NEW k-windows
    // across cut boundaries, so one pass need not reach a fixed point —
    // but the residue must be a sliver of the original duplication or
    // the "second pass converges in practice" claim is hollow.
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val dup = docs.filter(col("doc_id") < 50)
      .withColumn("doc_id", col("doc_id") + 1000000000L)
    val corpus = docs.union(dup)
    def residue(c: org.apache.spark.sql.DataFrame) =
      Dedup.repeatedSpanOccurrences(c, "doc_id", "text", 15)
        .filter(!col("is_first")).count()
    val pass1 = residue(corpus)
    val cleaned = Dedup.cutRepeatedSpans(corpus, "doc_id", "text", 15)
      .select(col("doc_id"), col("text_clean").as("text"))
    val pass2 = residue(cleaned)
    assert(pass1 > 0, "fixture must contain cross-doc duplication")
    assert(pass2 <= pass1 / 20,
      s"pass-2 residue $pass2 vs pass-1 $pass1 — cut pass failed to converge")
  }

  test("cutRepeatedSpans: boundary splice CAN create new cross-doc windows; one more pass clears them") {
    // the dd_substring_residual instrument measures 0 on the corpus
    // fixture; this constructed fixture proves the residual CAN be
    // non-zero (so the instrument isn't vacuous) and that a second cut
    // reaches the fixed point. doc2's middle "a b c d e f" is cut
    // (doc1 holds the firsts), splicing its flanks into "p q r s" —
    // which collides with doc3, a cross-doc repeat that did NOT exist
    // before the cut.
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "p q a b c d e f r s"),
      (3L, "p q r s")).toDF("doc_id", "text")
    def residual(c: org.apache.spark.sql.DataFrame) =
      Dedup.repeatedSpanOccurrences(c, "doc_id", "text", 3).count()
    val once = Dedup.cutRepeatedSpans(docs, "doc_id", "text", 3)
      .select(col("doc_id"), col("text_clean").as("text"))
    val cleaned2 = once.filter(col("doc_id") === 2L)
      .select("text").as[String].collect().head
    assert(cleaned2 == "p q r s", s"splice must rejoin the flanks: '$cleaned2'")
    // 2 new windows ("p q r", "q r s") × 2 docs = 4 occurrences
    assert(residual(once) == 4L, "splice must have created new cross-doc windows")
    val twice = Dedup.cutRepeatedSpans(once, "doc_id", "text", 3)
      .select(col("doc_id"), col("text_clean").as("text"))
    assert(residual(twice) == 0L, "second pass must reach the fixed point")
  }

  test("weightedSample: exact-k, deterministic, and genuinely weight-sensitive") {
    import graft.operators.Sampling
    import spark.implicits._
    // 2000 items, 10% carry weight 50 vs 1: an unweighted sampler picks
    // ~10% heavies in any k; Efraimidis-Spirakis at w-ratio 50 must pick
    // mostly heavies. E[P(heavy wins a slot)] >> uniform because
    // u^(1/50) concentrates near 1 while u^(1/1) = u stays uniform.
    val items = (0L until 2000L).map(i =>
      (i, if (i % 10 == 0) 50L else 1L)).toDF("id", "w")
    val s1 = Sampling.weightedSample(items, "id", "w", k = 200)
      .select("rank", "id").as[(Long, Long)].collect().sortBy(_._1)
    val s2 = Sampling.weightedSample(items, "id", "w", k = 200)
      .select("rank", "id").as[(Long, Long)].collect().sortBy(_._1)
    assert(s1.length == 200, "sample must hit k exactly")
    assert(s1.toSeq == s2.toSeq, "sample must be a pure function of (ids, weights)")
    val heavies = s1.count { case (_, id) => id % 10 == 0 }
    // 200 heavy items exist in total; weight 50 should sweep most of
    // them into a 200-slot sample (measured 148; uniform would give ~20)
    assert(heavies >= 120,
      s"only $heavies/200 heavy items sampled — weights not respected")
    // and the light majority must not be shut out entirely (it's a
    // weighted sample, not a weight-sorted head)
    assert(heavies <= 199, "light items must retain sampling probability")
  }

  test("a29 KMV set algebra: exact while unfilled; estimator tracks truth when full") {
    import graft.queries.Coverage
    def truth(sf: String) = {
      val ev = graft.Tables.load(spark, sf, "events")
      val a = ev.filter(col("event_type") === "click" && col("user_id") % 2 === 0)
        .select("user_id").distinct()
      val b = ev.filter(col("event_type") === "purchase" && col("user_id") % 3 === 0)
        .select("user_id").distinct()
      (a.count(), b.count(), a.union(b).distinct().count(),
        a.intersect(b).count())
    }
    // sf0.001: 15 users → sketches never fill → ALL four outputs exact
    val small = Coverage.a29KmvSetops.run(spark, "/root/testdata/sf0.001")
      .select("a_users", "b_users", "union_users", "inter_users")
      .as[(Long, Long, Long, Long)].collect().head
    assert(small == truth("/root/testdata/sf0.001"),
      s"unfilled sketches must be exact: got $small")
    // sf0.01: 150 users → union sketch full → estimator branch; k=64
    // gives ~12.5% se on cardinalities, intersection is noisier — pin a
    // generous 3-sigma-ish envelope that still catches swapped operands
    // or an off-by-k scale bug
    val (ta, tb, tu, ti) = truth("/root/testdata/sf0.01")
    val est = Coverage.a29KmvSetops.run(spark, "/root/testdata/sf0.01")
      .select("a_users", "b_users", "union_users", "inter_users")
      .as[(Long, Long, Long, Long)].collect().head
    def within(got: Long, want: Long, tol: Double) =
      math.abs(got - want) <= tol * want
    assert(within(est._1, ta, 0.4) && within(est._2, tb, 0.4) &&
      within(est._3, tu, 0.4) && within(est._4, ti, 0.8),
      s"estimates $est too far from truth ($ta, $tb, $tu, $ti)")
  }

  test("txt_epoch_pack: deterministic across re-runs, conserves tokens, shards by pos") {
    val sf = "/root/testdata/sf0.001"
    def run() = graft.queries.Corpus.txtEpochPack.run(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val a = run()
    // re-executing the whole plan (fresh shuffle rank included) must
    // deal the identical epoch — resumability depends on it
    assert(a == run(), "epoch pack must be reproducible run-to-run")
    // conservation: a doc's contributions across bins = its token count
    val docs = graft.Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        size(operators.TextAnalysis.rawTokens(col("text"))).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    val byDoc = a.groupBy(_._1).view.mapValues(_.map(_._5).sum)
    assert(byDoc.forall { case (d, t) => docs(d) == t },
      "every token lands in exactly one bin")
    // round-robin sharding: shard is a pure function of shuffle_pos
    assert(a.forall { case (_, shard, pos, _, _) => shard == (pos - 1) % 8 })
  }

  test("BPE round-trip: decode(encode(x)) equals the token stream, zero mismatches") {
    import graft.operators.Bpe
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val vocab = Bpe.train(Bpe.wordFreq(docs, "text"), iters = 6)
    val slice = docs.filter(col("doc_id") < 50)
    val rt = Bpe.roundTrip(slice, "doc_id", "text", vocab).cache()
    try {
      assert(rt.filter(col("n_mismatch") =!= 0).count() == 0,
        "every token must decode back to itself")
      val orig = slice.select(col("doc_id"),
        array_join(operators.TextAnalysis.rawTokens(col("text")), " ").as("t"))
      val diverged = rt.join(orig, "doc_id")
        .filter(col("text_rt") =!= col("t")).count()
      assert(diverged == 0, "reassembled text must equal the token stream")
      assert(rt.count() == 50)
    } finally rt.unpersist()
  }

  test("incrementalNearDupsStored: exact vs baseline; batch N+1 never re-signs existing") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    var forced = 0
    def existing = { forced += 1; docs.filter(col("doc_id") % 10 =!= 0) }
    val batch1 = docs.filter(col("doc_id") % 10 === 0 && col("doc_id") % 20 === 0)
    val batch2 = docs.filter(col("doc_id") % 10 === 0 && col("doc_id") % 20 =!= 0)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSet
    val got1 = canon(Dedup.incrementalNearDupsStored(spark, existing, batch1,
      "doc_id", "text", tag = "opspec_inc"))
    assert(forced == 1, "first batch materializes the stored tables once")
    val got2 = canon(Dedup.incrementalNearDupsStored(spark, existing, batch2,
      "doc_id", "text", tag = "opspec_inc"))
    // THE stored-signature guarantee: the second batch runs entirely
    // against the persisted tables — the existing-side thunk is never
    // even forced, so no plan can have re-shingled or re-signed it
    assert(forced == 1, "batch N+1 must not touch the existing corpus")
    val want1 = canon(Dedup.incrementalNearDups(
      docs.filter(col("doc_id") % 10 =!= 0), batch1, "doc_id", "text"))
    val want2 = canon(Dedup.incrementalNearDups(
      docs.filter(col("doc_id") % 10 =!= 0), batch2, "doc_id", "text"))
    assert(got1 == want1 && got2 == want2,
      "stored path must equal the re-signing baseline on every batch")
    // the stored side reads its bucketed layout, shuffle-free
    val p = Dedup.incrementalNearDupsStored(spark, existing, batch2,
      "doc_id", "text", tag = "opspec_inc")
      .queryExecution.executedPlan.toString
    assert(p.contains("Bucketed: true"),
      s"candidate join must scan the stored bucket layout:\n$p")
  }

  test("txt_pack: every bin but the bucket-last holds exactly 256 tokens") {
    val sf = "/root/testdata/sf0.001"
    val packed = graft.queries.Corpus.txtPack.run(spark, sf).cache()
    try {
      val bins = packed.groupBy("bucket", "bin_id")
        .agg(sum("n_tokens").as("tok"))
      val lastBin = bins.groupBy("bucket").agg(max("bin_id").as("last"))
      val full = bins.join(lastBin, "bucket")
        .filter(col("bin_id") < col("last"))
        .select("tok").as[Long].collect()
      assert(full.nonEmpty && full.forall(_ == 256L),
        "interior bins must be packed to exactly the capacity")
      // conservation: a doc's contributions across bins = its token count
      val perDoc = packed.groupBy("doc_id").agg(sum("n_tokens").as("tok"))
      val want = graft.Tables.load(spark, sf, "documents")
        .select(col("doc_id"),
          size(operators.TextAnalysis.rawTokens(col("text"))).cast("long").as("n"))
      assert(perDoc.join(want, "doc_id").filter(col("tok") =!= col("n")).count() == 0)
    } finally packed.unpersist()
  }

  test("Rollup.mergePartials over any split equals the direct aggregate") {
    val ev = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_id"), col("event_type"), col("value"))
    def partial(p: org.apache.spark.sql.DataFrame) =
      p.groupBy("event_type").agg(count(lit(1)).as("n"),
        sum(graft.queries.Q.dec("value")).as("sum_dec"))
    val merged = Rollup.mergePartials(
        partial(ev.filter(col("event_id") % 3 === 0)),
        partial(ev.filter(col("event_id") % 3 =!= 0)),
        keys = Seq("event_type"))
      .select(col("event_type"), col("n"), col("sum_dec").cast("double"))
    val direct = partial(ev)
      .select(col("event_type"), col("n"), col("sum_dec").cast("double"))
    assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty)
  }

  test("Profile.summarize: null/distinct counts and family-typed min/max") {
    val df = Seq((1L, Some("a"), 2.0), (2L, None, 4.0), (3L, Some("a"), 4.0))
      .toDF("id", "s", "x")
    val got = Profile.summarize(df, numeric = Seq("id", "x"),
        strings = Seq("s"), dates = Nil)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got("id") == ((3L, 0L, 3L)))
    assert(got("x") == ((3L, 0L, 2L)))
    assert(got("s") == ((3L, 1L, 1L)))
  }

  test("Profile.driftReport: one-sided dims read as maximal drift, never NULL") {
    // dim "lang" exists only in the NEW generation (a brand-new
    // dimension — the strongest drift) and dim "gone" only in the OLD;
    // both must surface with 0-permille shares on their absent side and
    // maximal delta, not null out of the report
    val old = Seq(("type", "a"), ("type", "a"), ("type", "b"),
      ("gone", "x")).toDF("dim", "bucket")
    val nu = Seq(("type", "a"), ("type", "c"),
      ("lang", "en"), ("lang", "en")).toDF("dim", "bucket")
    val got = Profile.driftReport(old, nu)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(got(("lang", "en")) == ((0L, 1000L, 1000L)),
      s"new-only dim must show 0 -> 1000 permille: $got")
    assert(got(("gone", "x")) == ((1000L, 0L, 1000L)),
      s"vanished dim must show 1000 -> 0 permille: $got")
    assert(got(("type", "b")) == ((333L, 0L, 333L)) &&
      got(("type", "c")) == ((0L, 500L, 500L)), s"got $got")
  }

  test("Retrieval.bm25TopKStored: equals the direct path; batch 2 never re-reads docs") {
    val sf = "/root/testdata/sf0.001"
    var forced = 0
    def docs = { forced += 1; graft.Tables.load(spark, sf, "documents") }
    val qA = Seq(1L -> Seq("spark", "join"))
    val qB = Seq(1L -> Seq("hash", "scan"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long)].collect().toSet
    val got1 = canon(Retrieval.bm25TopKStored(spark, docs, "doc_id", "text",
      qA, 5, tag = "opspec_bm25"))
    assert(forced == 1, "first batch builds the index once")
    val got2 = canon(Retrieval.bm25TopKStored(spark, docs, "doc_id", "text",
      qB, 5, tag = "opspec_bm25"))
    // the stored-index contract: a later batch serves purely from the
    // store — the docs thunk is never even forced
    assert(forced == 1, "batch 2 must not touch the corpus")
    val base = graft.Tables.load(spark, sf, "documents")
    assert(got1 == canon(Retrieval.bm25TopK(base, "doc_id", "text", qA, 5)))
    assert(got2 == canon(Retrieval.bm25TopK(base, "doc_id", "text", qB, 5)))
  }

  test("Retrieval.rrfFuse: both-lists beats one, absence contributes zero") {
    val a = Seq((1L, 100L, 1L), (1L, 101L, 2L)).toDF("query_id", "id", "rank")
    val b = Seq((1L, 101L, 1L), (1L, 102L, 2L)).toDF("query_id", "id", "rank")
    val got = Retrieval.rrfFuse(a, b, k = 3)
      .select("doc_id", "rrf_fp").as[(Long, Long)].collect().toMap
    val s = Retrieval.RrfScale; val k = Retrieval.RrfK
    // 101 is rank 2 + rank 1; 100 only rank 1; 102 only rank 2
    assert(got(101L) == s / (k + 2) + s / (k + 1))
    assert(got(100L) == s / (k + 1) && got(102L) == s / (k + 2))
    assert(got(101L) > got(100L),
      "a doc both rankers found must beat either single-ranker doc")
  }

  test("Retrieval.bm25TopK: invariant to input row order") {
    // the exactness claim implies order-invariance: floored fixed-point
    // contributions sum to the same BIGINT whatever the scan order
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
    val q = Seq(1L -> Seq("spark", "join", "hash"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long)].collect().toSeq
    val a = canon(Retrieval.bm25TopK(docs, "doc_id", "text", q, 10))
    val b = canon(Retrieval.bm25TopK(
      docs.orderBy(col("doc_id").desc), "doc_id", "text", q, 10))
    assert(a == b, "scores and ranks must not depend on scan order")
  }

  test("Retrieval.rrfFuse: improving a rank never lowers the fused score") {
    val b = Seq((1L, 101L, 3L)).toDF("query_id", "id", "rank")
    def fusedScore(rankInA: Long): Long = {
      val a = Seq((1L, 101L, rankInA), (1L, 102L, 5L))
        .toDF("query_id", "id", "rank")
      Retrieval.rrfFuse(a, b, k = 5)
        .filter(col("doc_id") === 101L)
        .select("rrf_fp").as[Long].head()
    }
    val scores = Seq(4L, 3L, 2L, 1L).map(fusedScore)
    assert(scores == scores.sorted,
      s"fused score must be monotone in rank improvement: $scores")
  }

  test("Retrieval.appendToIndex: served results equal a full rebuild after ingest") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
    val q = Seq(1L -> Seq("spark", "join"), 2L -> Seq("hash", "scan"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long)].collect().toSet
    // index 80% of the corpus, then ingest the remaining 20% in two batches
    Retrieval.bm25TopKStored(spark, docs.filter(col("doc_id") % 5 =!= 0),
      "doc_id", "text", q, 5, tag = "opspec_bm25ing").collect()
    Retrieval.appendToIndex(spark,
      docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 10 === 0),
      "doc_id", "text", tag = "opspec_bm25ing")
    Retrieval.appendToIndex(spark,
      docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 10 =!= 0),
      "doc_id", "text", tag = "opspec_bm25ing")
    val served = canon(Retrieval.bm25TopKStored(spark,
      sys.error("grown index must serve without touching the corpus"),
      "doc_id", "text", q, 5, tag = "opspec_bm25ing"))
    // df, n_docs, and avgdl must all reflect the appends: any stale stat
    // shifts scores and breaks set equality with the full rebuild
    assert(served == canon(Retrieval.bm25TopK(docs, "doc_id", "text", q, 5)),
      "served index after ingest must equal a rebuild over the grown corpus")
  }

  test("Retrieval index retraction: delete == rebuild-without-doc; double delete safe") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
    val q = Seq(1L -> Seq("spark", "join"), 2L -> Seq("hash", "scan"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long)].collect().toSet
    val tag = "opspec_bm25del"
    Retrieval.buildIndex(spark, docs, "doc_id", "text", tag)
    val doomedIds = docs.filter(col("doc_id") % 7 === 0).select("doc_id")
    Retrieval.deleteFromIndex(spark, doomedIds, "doc_id", tag)
    val want = canon(Retrieval.bm25TopK(
      docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text", q, 5))
    assert(canon(Retrieval.serveIndex(spark, "doc_id", q, 5, tag)) == want,
      "serve-after-delete must equal a rebuild without the docs")
    // deleting the same ids again must not double-subtract the stats
    Retrieval.deleteFromIndex(spark, doomedIds, "doc_id", tag)
    assert(canon(Retrieval.serveIndex(spark, "doc_id", q, 5, tag)) == want,
      "a second delete of the same ids must be a no-op")
  }

  test("Retrieval.upsertIntoIndex: re-added doc serves its NEW text; old stays dead") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
    val q = Seq(1L -> Seq("spark", "join"), 2L -> Seq("data", "table"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long)].collect().toSet
    val tag = "opspec_bm25ups"
    Retrieval.buildIndex(spark, docs, "doc_id", "text", tag)
    // delete %9==0, then upsert %9∈{0,1} with mutated text: the ==0 docs
    // are RE-ADDS over their own tombstones, the ==1 docs plain updates
    Retrieval.deleteFromIndex(spark,
      docs.filter(col("doc_id") % 9 === 0).select("doc_id"), "doc_id", tag)
    Retrieval.upsertIntoIndex(spark,
      docs.filter(col("doc_id") % 9 <= 1)
        .select(col("doc_id"), concat(col("text"), lit(" zz")).as("text")),
      "doc_id", "text", tag)
    val mutated = docs.select(col("doc_id"),
      when(col("doc_id") % 9 <= 1, concat(col("text"), lit(" zz")))
        .otherwise(col("text")).as("text"))
    assert(canon(Retrieval.serveIndex(spark, "doc_id", q, 5, tag)) ==
      canon(Retrieval.bm25TopK(mutated, "doc_id", "text", q, 5)),
      "upsert must serve the new text exactly as a rebuild would")
  }

  test("Retrieval.compactIndex: drops suppressed rows, merges files, serve unchanged") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
    val q = Seq(1L -> Seq("spark", "join"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long)].collect().toSet
    val tag = "opspec_bm25cmp"
    Retrieval.buildIndex(spark, docs.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", tag)
    // three appends + a delete accrete small files and tombstones
    Retrieval.appendToIndex(spark, docs.filter(col("doc_id") % 9 === 0),
      "doc_id", "text", tag)
    Retrieval.appendToIndex(spark, docs.filter(col("doc_id") % 9 === 3),
      "doc_id", "text", tag)
    Retrieval.appendToIndex(spark, docs.filter(col("doc_id") % 9 === 6),
      "doc_id", "text", tag)
    Retrieval.deleteFromIndex(spark,
      docs.filter(col("doc_id") % 5 === 0).select("doc_id"), "doc_id", tag)
    val before = canon(Retrieval.serveIndex(spark, "doc_id", q, 5, tag))
    val (nBefore, nAfter) = Retrieval.compactIndex(spark, tag, "doc_id")
    assert(nAfter < nBefore,
      s"compaction must merge the append-accumulated files: $nBefore -> $nAfter")
    assert(canon(Retrieval.serveIndex(spark, "doc_id", q, 5, tag)) == before,
      "compaction must not change served results")
    assert(spark.table(s"g_bm25_tomb_$tag").count() == 0,
      "compaction must clear the tombstone table")
    assert(canon(Retrieval.serveIndex(spark, "doc_id", q, 5, tag)) ==
      canon(Retrieval.bm25TopK(docs.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", q, 5)),
      "compacted index must still equal the rebuild over surviving docs")
  }

  test("Retrieval.ingestNewDocs: intra-batch duplicate ids ingest exactly once") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
    val q = Seq(1L -> Seq("spark", "join"), 2L -> Seq("data", "table"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long)].collect().toSet
    val tag = "opspec_bm25dup"
    Retrieval.buildIndex(spark, docs.filter(col("doc_id") % 4 =!= 0),
      "doc_id", "text", tag)
    // an at-least-once producer retried inside the micro-batch: every
    // new doc arrives twice in ONE frame
    val batch = docs.filter(col("doc_id") % 4 === 0)
    Retrieval.ingestNewDocs(spark, batch.union(batch), "doc_id", "text", tag)
    assert(canon(Retrieval.serveIndex(spark, "doc_id", q, 5, tag)) ==
      canon(Retrieval.bm25TopK(docs, "doc_id", "text", q, 5)),
      "duplicated batch rows must not double-count tf or stats")
  }

  test("Retrieval.repairStats: detects and repairs a crash between the two writes") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
    val q = Seq(1L -> Seq("spark", "join"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long)].collect().toSet
    val tag = "opspec_bm25crash"
    Retrieval.buildIndex(spark, docs.filter(col("doc_id") % 4 =!= 0),
      "doc_id", "text", tag)
    // simulate the crash at the contract's vulnerable point: postings
    // of the batch land (gen 1), stats never do
    val batch = docs.filter(col("doc_id") % 4 === 0)
    Retrieval.appendPostings(spark,
      Retrieval.postings(batch, "doc_id", "text")
        .withColumn("gen", lit(1L)), tag, buckets = 8)
    spark.catalog.refreshTable(s"g_bm25_post_$tag")
    assert(Retrieval.repairStats(spark, tag, "doc_id"),
      "repairStats must report the stats row drifted")
    assert(!Retrieval.repairStats(spark, tag, "doc_id"),
      "a second repair must find nothing to do")
    assert(canon(Retrieval.serveIndex(spark, "doc_id", q, 5, tag)) ==
      canon(Retrieval.bm25TopK(docs, "doc_id", "text", q, 5)),
      "repaired index must serve exactly as a rebuild over the grown corpus")
    // the same crash left the known-ids list stale (the ids write sits
    // between postings and stats) — restate it, then prove the
    // redelivery guard skips the batch via the COMPACT id list, whose
    // plan never touches the postings store
    assert(Retrieval.repairKnownIds(spark, tag), "stale ids must repair")
    assert(!Retrieval.repairKnownIds(spark, tag), "clean ids must not rewrite")
    val nPost = spark.table(s"g_bm25_post_$tag").count()
    Retrieval.ingestNewDocs(spark, batch, "doc_id", "text", tag)
    assert(spark.table(s"g_bm25_post_$tag").count() == nPost,
      "redelivered batch must be skipped without re-appending")
    val knownPlan = Retrieval.knownIds(spark, tag)
      .queryExecution.executedPlan.toString
    assert(knownPlan.contains("ids_v_") && !knownPlan.contains("post_v_"),
      s"ingest guard must scan the id list, not the postings:\n$knownPlan")
    // zero-posting docs (empty/whitespace text) live in the ids list
    // WITHOUT postings rows — legitimately. A crash repair must UNION
    // the postings-derived ids with the surviving list, not replace it:
    // forgetting them re-ingests on redelivery and double-counts their
    // n_docs/dl contribution to the BM25 corpus stats (round-10 ADVICE)
    val emptyDoc = Seq((900001L, "   ")).toDF("doc_id", "text")
    Retrieval.ingestNewDocs(spark, emptyDoc, "doc_id", "text", tag)
    val n0 = spark.table(s"g_bm25_stats_$tag").collect().head.getLong(0)
    Retrieval.appendPostings(spark,
      Retrieval.postings(Seq((900002L, "union repair doc")).toDF("doc_id", "text"),
        "doc_id", "text").withColumn("gen", lit(9L)), tag, buckets = 8)
    spark.catalog.refreshTable(s"g_bm25_post_$tag")
    assert(Retrieval.repairKnownIds(spark, tag),
      "crash-orphaned id must trigger a repair")
    Retrieval.ingestNewDocs(spark, emptyDoc, "doc_id", "text", tag)
    assert(spark.table(s"g_bm25_stats_$tag").collect().head.getLong(0) == n0,
      "zero-posting doc must survive the repair (redelivery = no-op)")
  }

  test("Retrieval: delete then re-add across a stats-write crash still serves the re-add") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
    val tag = "opspec_bm25genx"
    Retrieval.buildIndex(spark, docs, "doc_id", "text", tag)
    // CRASH SIM: a batch's postings land at gen 1, the stats row (the
    // generation counter) never advances — the counter is stale-low
    val upd = docs.filter(col("doc_id") === 7L)
      .select(col("doc_id"), concat(col("text"), lit(" zzzcrash")).as("text"))
    Retrieval.appendPostings(spark,
      Retrieval.postings(upd, "doc_id", "text").withColumn("gen", lit(1L)),
      tag, buckets = 8)
    spark.catalog.refreshTable(s"g_bm25_post_$tag")
    // delete doc 7: its tombstone lands at upto_gen 1 (its max live gen)
    Retrieval.deleteFromIndex(spark, Seq(7L).toDF("doc_id"), "doc_id", tag)
    // re-add with new text: a counter-trusting append would assign gen
    // 0+1 = 1 and the re-add would be SUPPRESSED (gen > upto is strict);
    // the tombstone-clearing max assigns gen 2 and it serves
    Retrieval.appendToIndex(spark,
      docs.filter(col("doc_id") === 7L)
        .select(col("doc_id"), lit("zzzreadd only tokens").as("text")),
      "doc_id", "text", tag)
    val hits = Retrieval.serveIndex(spark, "doc_id",
      Seq(1L -> Seq("zzzreadd")), 5, tag)
      .select("doc_id").as[Long].collect().toSet
    assert(hits == Set(7L),
      s"re-added doc must out-generation its tombstone, got $hits")
  }

  test("Retrieval atomic compaction: crash between stage and commit serves the OLD index") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
    val q = Seq(1L -> Seq("spark", "join"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long)].collect().toSet
    val tag = "opspec_bm25atom"
    Retrieval.buildIndex(spark, docs, "doc_id", "text", tag)
    Retrieval.deleteFromIndex(spark,
      docs.filter(col("doc_id") % 6 === 0).select("doc_id"), "doc_id", tag)
    val before = canon(Retrieval.serveIndex(spark, "doc_id", q, 5, tag))
    // CRASH SIM: version 1 fully staged, marker never created — then the
    // process dies (catalog entries are per-JVM; drop them) and a fresh
    // session recovers from the marker files alone
    val staged = Retrieval.compactStage(spark, tag, "doc_id", buckets = 8)
    Seq("post", "stats", "tomb").foreach(k =>
      spark.sql(s"DROP TABLE IF EXISTS g_bm25_${k}_$tag"))
    Retrieval.openIndex(spark, tag)
    assert(canon(Retrieval.serveIndex(spark, "doc_id", q, 5, tag)) == before,
      "recovery after a crash mid-compaction must serve the OLD version, " +
        "tombstones still applied")
    assert(spark.table(s"g_bm25_tomb_$tag").count() > 0,
      "the old version's tombstones must still be live after the aborted commit")
    // recovery also RECLAIMS the orphaned stage — a crashed compaction
    // must not leak a full staged copy of the index
    val stagedDir = new java.io.File(
      s"${graft.sources.Bucketing.processRoot}/bm25_$tag/post_v_$staged")
    assert(!stagedDir.exists, s"staged version dir must be GC'd: $stagedDir")
    // a RE-RUN compaction (not a resumed commit — its stage is gone)
    // completes the commit: serve identical, tombstones folded away
    Retrieval.compactIndex(spark, tag, "doc_id")
    assert(canon(Retrieval.serveIndex(spark, "doc_id", q, 5, tag)) == before,
      "the committed compaction must serve identically")
    assert(spark.table(s"g_bm25_tomb_$tag").count() == 0,
      "the new version starts with no tombstones")
  }

  test("VersionedStore.withWriterLock: concurrent compaction fails fast, version state stays consistent") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
    val q = Seq(1L -> Seq("spark", "join"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long)].collect().toSet
    val tag = "opspec_bm25lock"
    Retrieval.buildIndex(spark, docs, "doc_id", "text", tag)
    val before = canon(Retrieval.serveIndex(spark, "doc_id", q, 5, tag))
    val base = s"${graft.sources.Bucketing.processRoot}/bm25_$tag"
    // writer A holds the lock (an in-flight compaction); writer B's
    // compaction must fail FAST — not interleave into the same staged
    // version directory — and leave the served index untouched
    graft.sources.VersionedStore.withWriterLock(spark, base) {
      val e = intercept[IllegalStateException] {
        Retrieval.compactIndex(spark, tag, "doc_id")
      }
      assert(e.getMessage.contains("locked by a live writer"), e.getMessage)
    }
    assert(graft.sources.VersionedStore.latest(spark, base).get == 0L,
      "blocked writer must not have advanced the version")
    assert(canon(Retrieval.serveIndex(spark, "doc_id", q, 5, tag)) == before)
    // the lock releases on exit (even via the throw above): a retry
    // succeeds and the version advances exactly once
    Retrieval.compactIndex(spark, tag, "doc_id")
    assert(graft.sources.VersionedStore.latest(spark, base).get == 1L)
    assert(canon(Retrieval.serveIndex(spark, "doc_id", q, 5, tag)) == before)
    // APPENDS and TOMBSTONE WRITES enforce the same contract (the
    // mechanism is one shared withWriterLock across all three index
    // families): blocked mutators fail fast and leave the serve
    // untouched; both succeed once the lock is free
    graft.sources.VersionedStore.withWriterLock(spark, base) {
      intercept[IllegalStateException] {
        Retrieval.appendToIndex(spark,
          Seq((9901L, "lock probe text")).toDF("doc_id", "text"),
          "doc_id", "text", tag)
      }
      intercept[IllegalStateException] {
        Retrieval.deleteFromIndex(spark, Seq(1L).toDF("doc_id"),
          "doc_id", tag)
      }
    }
    assert(canon(Retrieval.serveIndex(spark, "doc_id", q, 5, tag)) == before,
      "blocked append/delete must not have mutated the index")
    Retrieval.appendToIndex(spark,
      Seq((9901L, "lock probe text")).toDF("doc_id", "text"),
      "doc_id", "text", tag)
    Retrieval.deleteFromIndex(spark, Seq(9901L).toDF("doc_id"),
      "doc_id", tag)
    assert(spark.table(s"g_bm25_tomb_$tag").count() == 1L,
      "post-release delete lands its tombstone")
    // the versioned store enforces the same contract on commit/commitAll
    val vbase = s"${graft.sources.Bucketing.processRoot}/vlock_test"
    graft.sources.VersionedStore.withWriterLock(spark, vbase) {
      intercept[IllegalStateException] {
        graft.sources.VersionedStore.commit(spark, vbase, Seq(1L).toDF("x"))
      }
    }
    assert(graft.sources.VersionedStore.latest(spark, vbase).isEmpty,
      "blocked commit must not have published a version")
    assert(graft.sources.VersionedStore.commit(spark, vbase,
      Seq(1L).toDF("x")) == 0L)
  }

  test("Retrieval.deleteFromIndex: tombstone bound auto-compacts") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
    val doomed = docs.filter(col("doc_id") % 7 === 0).select("doc_id")
    val kept = docs.filter(col("doc_id") % 7 =!= 0)
    val q = Seq(1L -> Seq("spark", "join"))
    val ph = Seq(1L -> "table hash", 2L -> "customer join")
    // bound of 10: the first delete (~1/7 of the corpus, » 10 docs)
    // must trip the auto-compaction — tombstones fold into version 1 and
    // the table comes back empty, so the serve-time broadcast can never
    // exceed the bound by more than one delete batch. Every family
    // sharing the bound (BM25, phrase) takes the same checks.
    def assertBounded(tomb: String, served: org.apache.spark.sql.DataFrame,
        rebuilt: org.apache.spark.sql.DataFrame): Unit = {
      assert(spark.table(tomb).count() == 0,
        s"$tomb: exceeding maxTombstones must trigger compaction")
      assert(served.collect().toSet == rebuilt.collect().toSet,
        s"$tomb: auto-compacted index must equal the rebuild without the docs")
    }
    val tag = "opspec_bm25bound"
    Retrieval.buildIndex(spark, docs, "doc_id", "text", tag)
    Retrieval.deleteFromIndex(spark, doomed, "doc_id", tag,
      maxTombstones = 10L)
    assertBounded(s"g_bm25_tomb_$tag",
      Retrieval.serveIndex(spark, "doc_id", q, 5, tag),
      Retrieval.bm25TopK(kept, "doc_id", "text", q, 5))
    val ptag = "opspec_phrbound"
    PhraseIndex.buildPhraseIndex(spark, docs, "doc_id", "text", ptag,
      lengths = Seq(2, 3))
    PhraseIndex.deleteFromPhraseIndex(spark, doomed, "doc_id", ptag,
      maxTombstones = 10L)
    assertBounded(s"g_phr_tomb_$ptag",
      PhraseIndex.servePhrases(spark, "doc_id", ph, 5, ptag),
      Retrieval.phraseSearch(kept, "doc_id", "text", ph, 5))
  }

  test("PhraseIndex: stored serve == per-batch phraseSearch; docs read once") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
    val ph = Seq(1L -> "table hash", 2L -> "part filter scan")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long, Long)].collect().toSet
    val tag = "opspec_phr"
    val stored = canon(PhraseIndex.phraseTopKStored(spark, docs,
      "doc_id", "text", ph, 5, tag, lengths = Seq(2, 3)))
    assert(stored == canon(Retrieval.phraseSearch(docs, "doc_id", "text",
      ph, 5)), "stored phrase serve must equal the per-batch rebuild")
    // second batch must serve WITHOUT the docs thunk
    PhraseIndex.phraseTopKStored(spark,
      sys.error("stored phrase index must serve without the corpus"),
      "doc_id", "text", Seq(3L -> "customer join"), 5, tag,
      lengths = Seq(2, 3)).collect()
  }

  test("PhraseIndex fallback: long phrases prefix-probe + verify; indexed lengths never touch docs") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long, Long)].collect().toSet
    val tag = "opspec_phrlong"
    PhraseIndex.buildPhraseIndex(spark, docs, "doc_id", "text", tag,
      lengths = Seq(2, 3))
    // indexed-length batch: the docs thunk must never be forced
    val pure = PhraseIndex.servePhrasesWithFallback(spark,
      sys.error("stored-length phrases must not touch the corpus"),
      "doc_id", "text", Seq(1L -> "table hash"), 5, tag)
    assert(pure.count() > 0)
    // a mixed batch with a 4-token phrase over the 2..3 index equals the
    // from-scratch search ("sort a value stream" has real sf0.001 hits)
    val mixed = Seq(1L -> "table hash", 2L -> "sort a value stream")
    assert(canon(PhraseIndex.servePhrasesWithFallback(spark, docs,
        "doc_id", "text", mixed, 5, tag)) ==
      canon(Retrieval.phraseSearch(docs, "doc_id", "text", mixed, 5)),
      "fallback serve must equal the per-batch rebuild")
    // prefix-only decoy: "sort a value" occurs, the full 4-gram does not
    // — the verify step must FILTER the candidates, not forward them
    val decoy = PhraseIndex.servePhrasesWithFallback(spark, docs,
      "doc_id", "text", Seq(9L -> "sort a value valuex"), 5, tag)
    assert(decoy.count() == 0,
      "a phrase whose prefix matches but whose full text does not must verify to zero")
    // a phrase shorter than every indexed length has no probe path
    intercept[IllegalArgumentException] {
      PhraseIndex.servePhrasesWithFallback(spark, docs, "doc_id", "text",
        Seq(9L -> "table"), 5, tag).collect()
    }
  }

  test("PhraseIndex.ingestNewDocs: redelivery no-ops via the compact id list; serve == rebuild") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
    val ph = Seq(1L -> "table hash", 2L -> "customer join")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long, Long)].collect().toSet
    val tag = "opspec_phringest"
    PhraseIndex.buildPhraseIndex(spark, docs.filter(col("doc_id") % 4 =!= 0),
      "doc_id", "text", tag, lengths = Seq(2, 3))
    // an at-least-once producer retried inside the micro-batch
    val batch = docs.filter(col("doc_id") % 4 === 0)
    PhraseIndex.ingestNewDocs(spark, batch.union(batch), "doc_id", "text", tag)
    val nPost = spark.table(s"g_phr_post_$tag").count()
    // wholesale redelivery of the whole batch — a no-op
    PhraseIndex.ingestNewDocs(spark, batch, "doc_id", "text", tag)
    assert(spark.table(s"g_phr_post_$tag").count() == nPost,
      "redelivered docs must not re-append window postings")
    assert(canon(PhraseIndex.servePhrases(spark, "doc_id", ph, 5, tag)) ==
      canon(Retrieval.phraseSearch(docs, "doc_id", "text", ph, 5)),
      "ingested index must serve exactly as a from-scratch search")
    // the guard's plan reads the compact id list, never the postings
    val knownPlan = PhraseIndex.knownIds(spark, tag)
      .queryExecution.executedPlan.toString
    assert(knownPlan.contains("ids_v_") && !knownPlan.contains("post_v_"),
      s"ingest guard must scan the id list, not the postings:\n$knownPlan")
  }

  test("PhraseIndex maintenance: delete/upsert/compact == rebuild over mutated corpus") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
    val ph = Seq(1L -> "table hash", 2L -> "customer join")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long, Long)].collect().toSet
    val tag = "opspec_phrmut"
    PhraseIndex.buildPhraseIndex(spark, docs, "doc_id", "text", tag,
      lengths = Seq(2, 3))
    PhraseIndex.deleteFromPhraseIndex(spark,
      docs.filter(col("doc_id") % 8 === 0).select("doc_id"), "doc_id", tag)
    PhraseIndex.upsertIntoPhraseIndex(spark,
      docs.filter(col("doc_id") % 8 === 1)
        .select(col("doc_id"),
          concat(lit("table hash "), col("text")).as("text")),
      "doc_id", "text", tag)
    val mutated = docs.filter(col("doc_id") % 8 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 8 === 1, concat(lit("table hash "), col("text")))
          .otherwise(col("text")).as("text"))
    val want = canon(Retrieval.phraseSearch(mutated, "doc_id", "text", ph, 5))
    assert(canon(PhraseIndex.servePhrases(spark, "doc_id", ph, 5, tag)) ==
      want, "phrase serve after delete+upsert must equal the mutated rebuild")
    // double delete is a no-op; compaction changes nothing served
    PhraseIndex.deleteFromPhraseIndex(spark,
      docs.filter(col("doc_id") % 8 === 0).select("doc_id"), "doc_id", tag)
    val (nb, na) = PhraseIndex.compactPhraseIndex(spark, tag, "doc_id")
    assert(na < nb, s"compaction must merge append files: $nb -> $na")
    assert(canon(PhraseIndex.servePhrases(spark, "doc_id", ph, 5, tag)) ==
      want, "compacted phrase index must serve identically")
    assert(spark.table(s"g_phr_tomb_$tag").count() == 0)
  }

  test("PhraseIndex.repairMeta: restates a stale gen counter from the postings") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
    val tag = "opspec_phrrep"
    PhraseIndex.buildPhraseIndex(spark,
      docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", tag,
      lengths = Seq(2))
    // crash sim: postings of gen 1 land, meta never does — replay the
    // postings half of append only
    PhraseIndex.appendToPhraseIndex(spark,
      docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", tag)
    import org.apache.spark.sql.SaveMode
    val stale = Seq((0L, "2")).toDF("gen", "lens")
    stale.repartition(1).write.mode(SaveMode.Overwrite)
      .parquet(graft.sources.VersionedStore.tableDir(
        s"${graft.sources.Bucketing.processRoot}/phrase_$tag", "meta",
        graft.sources.VersionedStore.latest(spark,
          s"${graft.sources.Bucketing.processRoot}/phrase_$tag").get))
    spark.catalog.refreshTable(s"g_phr_meta_$tag")
    assert(PhraseIndex.repairMeta(spark, tag),
      "repairMeta must detect the stale counter")
    assert(!PhraseIndex.repairMeta(spark, tag),
      "a second repair must find nothing to do")
  }

  test("Merge.snapshotDiff: added/removed/changed verdicts, null-safe compare") {
    val older = Seq((1L, Some("a"), 10.0), (2L, None, 20.0),
      (3L, Some("c"), 30.0), (4L, Some("d"), 40.0))
      .toDF("k", "s", "v")
    val newer = Seq((1L, Some("a"), 10.0), (2L, None, 20.0),
      (3L, None, 30.0), (5L, Some("e"), 50.0))
      .toDF("k", "s", "v")
    val got = Merge.snapshotDiff(older, newer, Seq("k"), Seq("s", "v"))
      .select("k", "change").as[(Long, String)].collect().toMap
    // 1 identical, 2 identical WITH null field (null-safe: not a change),
    // 3 changed (c -> null), 4 removed, 5 added
    assert(got == Map(3L -> "changed", 4L -> "removed", 5L -> "added"),
      s"got $got")
  }

  test("Sketches.cmsJoinSize: never under the true join size, exact sans collisions") {
    val a = Seq(1L, 1L, 2L).toDF("k")
    val b = Seq(1L, 2L, 2L, 3L).toDF("k")
    val ca = Sketches.cmsCells(a, "k", d = 4, w = 4096)
    val cb = Sketches.cmsCells(b, "k", d = 4, w = 4096)
    val est = Sketches.cmsJoinSize(ca, cb).as[Long].head()
    // true |A ⋈ B| = 2·1 (key 1) + 1·2 (key 2) + 0 (key 3 unmatched) = 4;
    // 3 keys in 4096 buckets collide in none of the 4 hash rows, so the
    // min-of-dots is exact here — and can only exceed the truth in general
    assert(est == 4L, s"inner-product estimate drifted: $est")
    // self-join guard: Σf² for a = 2² + 1² = 5
    val self = Sketches.cmsJoinSize(ca, ca).as[Long].head()
    assert(self == 5L, s"self-join estimate drifted: $self")
    // DISJOINT key sets: any hash row where no cells collide has a true
    // dot of 0, so the estimate must be 0 (not null, not an inflated
    // min over the colliding rows) — the case a pre-flight guard most
    // needs to catch
    val c = Seq(100L, 200L, 300L).toDF("k")
    val cc = Sketches.cmsCells(c, "k", d = 4, w = 4096)
    val disjoint = Sketches.cmsJoinSize(ca, cc).as[Long].head()
    assert(disjoint == 0L,
      s"fully-disjoint sketches must estimate a 0-row join: $disjoint")
  }

  test("Retrieval.bm25TopK: rarer terms dominate, dl normalizes, ties break by id") {
    // "rare" appears in one doc, "common" in all four; doc 4 repeats
    // common but is long, so its tf gain is damped by dl normalization.
    val docs = Seq(
      (1L, "rare common alpha"),
      (2L, "common beta gamma"),
      (3L, "common beta gamma"),
      (4L, "common common common beta beta beta gamma gamma gamma delta delta delta"))
      .toDF("doc_id", "text")
    val got = Retrieval.bm25TopK(docs, "doc_id", "text",
        Seq(1L -> Seq("rare", "common")), k = 4)
      .orderBy("rank")
      .as[(Long, Long, Long, Long)].collect()
    assert(got.map(_._3).toSeq == Seq(1L, 4L, 2L, 3L),
      s"expected rare-term doc first, then tf-rich long doc, then id ties: ${got.toSeq}")
    // identical docs 2 and 3 score identically; id breaks the tie
    val score = got.map(r => r._3 -> r._4).toMap
    assert(score(2L) == score(3L))
    assert(score(1L) > score(4L), "one rare-term hit must beat repeated common hits")
  }

  test("Retrieval.bm25TopK: log idf orders multi-term queries unlike the odds ratio") {
    // The round-8 fix in one fixture: one rare term (df=1) vs seven
    // mid-frequency terms (df=25 of N=51). Under the raw odds ratio the
    // rare term's untempered 33x weight makes doc A win; under true log
    // idf the seven compressed mid contributions overtake it. The two
    // modes MUST disagree here — this is the measured proof the round-7
    // scorer was not ranking like the algorithm it was named for
    // (txt_bm25_rankshift measures the same thing on the real corpus).
    val docs = (
      Seq(1L -> "rare", 2L -> "m1 m2 m3 m4 m5 m6 m7") ++
        (3L to 26L).map(i => i -> "m1 m2 m3 m4 m5 m6 m7 pad") ++
        (27L to 51L).map(i => i -> Seq.fill(30)("pad").mkString(" "))
      ).toDF("doc_id", "text")
    val q = Seq(1L -> Seq("rare", "m1", "m2", "m3", "m4", "m5", "m6", "m7"))
    val lnTop = Retrieval.bm25TopK(docs, "doc_id", "text", q, 1)
      .select("doc_id").as[Long].head()
    val post = Retrieval.postings(docs, "doc_id", "text")
    val stats = post.groupBy(col("doc_id")).agg(max("dl").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    val oddsTop = Retrieval.bm25Serve(post, stats, "doc_id", q, 1,
        idfMode = "odds")
      .select("doc_id").as[Long].head()
    assert(lnTop == 2L, s"log idf must rank the seven-mid-term doc first: $lnTop")
    assert(oddsTop == 1L, s"odds ratio must rank the rare-term doc first: $oddsTop")
    // fidelity: the fixed-point score equals libm Okapi to < 1e-3
    val gotFp = Retrieval.bm25TopK(docs, "doc_id", "text", q, 51)
      .select("doc_id", "score_fp").as[(Long, Long)].collect().toMap
    val n = 51.0; val sumDl = 1 + 7 + 24 * 8 + 25 * 30
    val avgdl = sumDl / n
    def okapi(tf: Double, dl: Double, df: Double): Double =
      math.log(1.0 + (n - df + 0.5) / (df + 0.5)) *
        (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    val wantA = okapi(1, 1, 1)
    val wantB = 7 * okapi(1, 7, 25)
    assert(math.abs(gotFp(1L) / 1e6 - wantA) < 1e-3,
      s"doc 1 score ${gotFp(1L) / 1e6} vs libm Okapi $wantA")
    assert(math.abs(gotFp(2L) / 1e6 - wantB) < 1e-3,
      s"doc 2 score ${gotFp(2L) / 1e6} vs libm Okapi $wantB")
  }

  test("Graph.bfsHops: min-hop layers, unreachable nodes absent, seeds at 0") {
    // path 1-2-3-4-5 plus a detached pair 8-9; seed = {1}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
      .toDF("item_a", "item_b")
    val seeds = Seq(1L).toDF("node")
    val got = Graph.bfsHops(edges, seeds, maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L),
      s"got $got") // 5 is 4 hops out; 8/9 unreachable
    // a cycle must not re-discover at a larger hop: triangle seeded at one corner
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("item_a", "item_b")
    val g2 = Graph.bfsHops(tri, seeds, maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(g2 == Map(1L -> 0L, 2L -> 1L, 3L -> 1L))
  }

  test("Graph.personalizedPagerankFixed: seedless components get ZERO; distance decays") {
    // component A: 1 (seed) - 2 - 4 chain + 1-3; component B: 8-9 with
    // NO seed — the property that distinguishes PPR from global
    // PageRank is that B receives exactly nothing (no teleport, no
    // reachable contribution), while global PR would rank it
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (8L, 9L))
      .toDF("item_a", "item_b")
    val seeds = Seq(1L).toDF("node")
    val pr = Graph.personalizedPagerankFixed(edges, seeds, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(pr(8L) == 0L && pr(9L) == 0L,
      s"a component unreachable from every seed must hold zero mass: $pr")
    assert(pr(4L) < pr(2L),
      s"rank must decay with distance from the seed: $pr")
    assert(pr.size == 6 && pr.values.forall(_ >= 0))
    // an EDGE-LESS seed (not in the edge list at all) must keep its
    // teleport mass — converging to 0.15·Unit12 — not silently vanish
    val cold = Graph.personalizedPagerankFixed(edges,
        Seq(1L, 99L).toDF("node"), iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(cold.contains(99L) && cold(99L) == Graph.Unit12 * 15 / 100,
      s"isolated seed must hold exactly the teleport share: $cold")
  }

  test("Graph.pagerankFixed: ranks conserve mass and hubs outrank leaves") {
    // star: 1 is the hub of 2,3,4; plus an isolated edge 5-6
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 6L))
      .toDF("item_a", "item_b")
    val pr = Graph.pagerankFixed(edges, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(pr.size == 6)
    // total mass stays ~ n × unit (integer truncation only shrinks it)
    val total = pr.values.sum
    assert(total <= 6 * Graph.Unit12 && total > (6 * Graph.Unit12 * 95) / 100)
    assert(pr(1L) > pr(2L), "hub must outrank a leaf")
    assert(pr(2L) == pr(3L) && pr(3L) == pr(4L), "symmetric leaves tie")
    assert(pr(5L) == pr(6L), "isolated pair ties")
  }

  test("stored incremental dedup loop: maintained components equal full rebuild") {
    // the production loop end to end: batch arrives → cross pairs vs the
    // STORED signatures (batch-sized cost) + the batch's internal pairs
    // → applyComponentDelta folds both into the stored labels → batch
    // signatures append to the store. After two batches the maintained
    // labels must equal connectedComponents over the whole corpus's
    // pairs — LSH pairs decompose exactly across any batch partition
    // (signatures are per-doc pure functions), so any drift here is a
    // maintenance bug, not an approximation.
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
      .select("doc_id", "text").cache()
    val b0 = docs.filter(col("doc_id") % 3 === 0)
    val tag = "ddloop"
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      Dedup.minhashPairs(df, "doc_id", "text", 5, 16, 4, 0.5)
        .select("id_a", "id_b")
    var labels = Dedup.connectedComponents(pairsOf(b0)).localCheckpoint()
    for (m <- Seq(1, 2)) {
      val batch = docs.filter(col("doc_id") % 3 === m)
      val cross = Dedup.incrementalNearDupsStored(spark, b0, batch,
          "doc_id", "text", tag = tag)
        .select(col("new_id").as("id_a"), col("dup_of").as("id_b"))
      val delta = cross.unionByName(pairsOf(batch))
      labels = Dedup.applyComponentDelta(labels, delta).localCheckpoint()
      Dedup.appendBatchToStore(spark, batch, "doc_id", "text", tag)
    }
    val got = labels.as[(Long, Long)].collect().toMap
    val want = Dedup.connectedComponents(pairsOf(docs))
      .as[(Long, Long)].collect().toMap
    assert(got == want, "maintained labels diverged from full rebuild")
    docs.unpersist(); ()
  }

  test("AnnIndex: delete/re-add/compact lifecycle, recovery, enforced tombstone bound") {
    def vec(seed: Long) = (0 until 4).map(i => ((seed * 31 + i * 7) % 10).toFloat)
    val cands = (0L until 40L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val qs = (100L to 102L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val tag = "annunit"
    def serve() = AnnIndex.serveTopK(spark, qs, "vec_id", "embedding",
      k = 3, nprobe = 4, tag = tag)
      .select("query_id", "cand_id", "rank").as[(Long, Long, Long)]
      .collect().toSet
    AnnIndex.buildIndex(spark, cands, "vec_id", "embedding", tag,
      seedStride = 8, spill = 2, buckets = 2)
    val before = serve()
    assert(before.nonEmpty)
    // delete suppresses at serve without touching the postings layout
    AnnIndex.deleteFromIndex(spark, Seq(5L).toDF("vec_id"), "vec_id", tag)
    assert(!serve().exists(_._2 == 5L), "tombstoned vector must not serve")
    // re-add: the new generation out-ranks the tombstone
    AnnIndex.appendToIndex(spark, cands.filter($"vec_id" === 5L),
      "vec_id", "embedding", tag)
    assert(serve() == before, "re-added identical vector restores the result")
    // compaction drops the suppressed rows; serve unchanged
    AnnIndex.compactIndex(spark, tag)
    assert(serve() == before)
    // recovery path: markers alone re-derive the catalog entries —
    // geometry (bucket count) comes from the persisted meta, not the
    // caller (round-9 ADVICE)
    spark.sql(s"DROP TABLE IF EXISTS g_ann_post_$tag")
    AnnIndex.openIndex(spark, tag)
    assert(serve() == before, "openIndex must recover the committed version")
    // bound enforcement: a tiny maxTombstones forces auto-compaction
    AnnIndex.deleteFromIndex(spark, Seq(6L, 7L).toDF("vec_id"), "vec_id",
      tag, maxTombstones = 1L)
    assert(spark.table(s"g_ann_tomb_$tag").count() == 0,
      "delete past the bound must auto-compact the tombstones away")
    assert(!serve().exists(r => r._2 == 6L || r._2 == 7L))
  }

  test("AnnIndex: binary pre-ranked serve — full shortlist equals serveTopK; codes-only stage prunes cv") {
    def vec(seed: Long) = (0 until 4).map(i => ((seed * 31 + i * 7) % 10 - 4).toFloat)
    val cands = (0L until 40L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val qs = (100L to 102L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val tag = "annbin"
    AnnIndex.buildIndex(spark, cands, "vec_id", "embedding", tag,
      seedStride = 8, spill = 2, buckets = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id", "rank").as[(Long, Long, Long)]
        .collect().toSet
    val exact = rows(AnnIndex.serveTopK(spark, qs, "vec_id", "embedding",
      k = 3, nprobe = 4, tag = tag))
    // shortlist ≥ probed candidates ⇒ the binary stage passes everything
    // through and the result EQUALS the exact stored serve
    val full = rows(AnnIndex.serveTopKBinary(spark, qs, "vec_id", "embedding",
      k = 3, nprobe = 4, tag = tag, shortlist = 1000))
    assert(full == exact, "full-shortlist binary serve must equal serveTopK")
    // a tight shortlist still returns k ranked rows per query
    val tight = AnnIndex.serveTopKBinary(spark, qs, "vec_id", "embedding",
      k = 3, nprobe = 4, tag = tag, shortlist = 5)
    assert(tight.groupBy("query_id").count().as[(Long, Long)].collect()
      .forall(_._2 == 3))
    // plan pin: stage 1's postings scan reads the CODE WORDS, not the
    // vector column — the whole point of storing the codes
    val plan = tight.queryExecution.executedPlan.toString
    val codeScans = plan.linesIterator.filter(l =>
      l.contains("ReadSchema") && l.contains("b0")).toList
    assert(codeScans.exists(!_.contains("cv")),
      s"expected a codes-only postings scan without cv; scans: $codeScans")
  }

  test("AnnIndex: binary serve over >64-dim vectors — word count from meta, wider appends refused") {
    // 96 dims ⇒ 3 stored code words; the round-11 hard-coded two-word
    // code would silently drop dims 65..96 from the Hamming pre-rank
    def vec(seed: Long) = (0 until 96).map(i =>
      ((seed * 31 + i * 7) % 11 - 5).toFloat)
    val cands = (0L until 40L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val qs = (100L to 102L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val tag = "annwide"
    AnnIndex.buildIndex(spark, cands, "vec_id", "embedding", tag,
      seedStride = 8, spill = 2, buckets = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id", "rank").as[(Long, Long, Long)]
        .collect().toSet
    // full shortlist ⇒ binary stage passes everything; equality with the
    // exact serve proves the code words cover ALL 96 dims (a truncated
    // code would reorder the Hamming shortlist only, so this assertion
    // is loose by itself — the b2 plan pin below closes it)
    val exact = rows(AnnIndex.serveTopK(spark, qs, "vec_id", "embedding",
      k = 3, nprobe = 4, tag = tag))
    val binFull = AnnIndex.serveTopKBinary(spark, qs, "vec_id", "embedding",
      k = 3, nprobe = 4, tag = tag, shortlist = 1000)
    assert(rows(binFull) == exact)
    // the codes-only stage reads the THIRD word — proof the geometry
    // came from the meta, not a two-word constant
    val plan = AnnIndex.serveTopKBinary(spark, qs, "vec_id", "embedding",
      k = 3, nprobe = 4, tag = tag, shortlist = 5)
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("ReadSchema") && l.contains("b2") && !l.contains("cv")),
      "expected a codes-only postings scan carrying b2")
    // a batch WIDER than the built geometry must fail loudly, not decay
    val wide = Seq((500L, (0 until 100).map(_.toFloat)))
      .toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      AnnIndex.appendToIndex(spark, wide, "vec_id", "embedding", tag)
    }
    assert(ex.getMessage.contains("100-dim"))
  }

  test("AnnIndex: write-ahead gen claims survive an append crash; ids repair; max-gen serve; retention") {
    def vec(seed: Long) = (0 until 4).map(i => ((seed * 31 + i * 7) % 10).toFloat)
    val cands = (0L until 24L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val tag = "anncrash"
    AnnIndex.buildIndex(spark, cands, "vec_id", "embedding", tag,
      seedStride = 8, spill = 2, buckets = 2)
    // delete id 5, then CRASH mid-re-add: claim marker + postings landed
    // at gen 1, nothing else (the round-9 ADVICE scenario — a scheme
    // trusting a stale stored counter would hand the NEXT append gen 1
    // again, and a tombstone at upto_gen 1 would suppress this re-add)
    AnnIndex.deleteFromIndex(spark, Seq(5L).toDF("vec_id"), "vec_id", tag)
    val (_, g1, b1) = AnnIndex.appendPostingsOnly(spark,
      cands.filter($"vec_id" === 5L), "vec_id", "embedding", tag)
    b1.unpersist()
    assert(g1 == 1L)
    // next append claims gen 2 — the crashed claim marker is on disk,
    // so reuse is impossible with NO recovery pass
    AnnIndex.appendToIndex(spark, Seq((40L, vec(40L))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", tag)
    val gens = spark.table(s"g_ann_post_$tag").select("gen").distinct()
      .as[Long].collect().toSet
    assert(gens == Set(0L, 1L, 2L), s"generations must never reuse: $gens")
    // the claim floor reads the 1-row version meta + the bounded tombstone
    // table, NEVER the postings (the round-10 verdict's one remaining
    // per-append-∝-corpus cost): claiming succeeds with the postings
    // table unregistered, and lands strictly above every prior claim
    spark.sql(s"DROP TABLE g_ann_post_$tag")
    val claimed = AnnIndex.claimNextGen(spark, tag)
    assert(claimed == 3L, s"claim must top every prior claim: $claimed")
    AnnIndex.openIndex(spark, tag)
    // a claimed-but-crashed gen (no postings ever landed) is skipped,
    // never reissued
    AnnIndex.appendToIndex(spark, Seq((42L, vec(42L))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", tag)
    val g42 = spark.table(s"g_ann_post_$tag").filter($"cand_id" === 42L)
      .select("gen").distinct().as[Long].collect().toSet
    assert(g42 == Set(4L), s"crashed claim 3 must be skipped: $g42")
    // appends never rewrite the version meta (immutable once staged —
    // round-10 ADVICE: the per-append delete-then-write could crash
    // into an empty metaDir and make the index unopenable)
    assert(spark.table(s"g_ann_meta_$tag").select("gen")
      .as[Long].collect().head == 0L,
      "version meta must stay at its staged value across appends")
    // crash-append a NEW id: postings hold it, the known-ids list does
    // not — repairKnownIds restates (and is a no-op when clean)
    val (_, _, b2) = AnnIndex.appendPostingsOnly(spark,
      Seq((41L, vec(41L))).toDF("vec_id", "embedding"), "vec_id", "embedding", tag)
    b2.unpersist()
    assert(AnnIndex.repairKnownIds(spark, tag), "stale ids must repair")
    assert(!AnnIndex.repairKnownIds(spark, tag), "clean ids must not rewrite")
    // redelivery of the repaired id is a no-op, and the guard's plan
    // reads the COMPACT id list, never the postings store
    val nPost = spark.table(s"g_ann_post_$tag").count()
    AnnIndex.ingestNewVectors(spark,
      Seq((41L, vec(41L))).toDF("vec_id", "embedding"), "vec_id", "embedding", tag)
    assert(spark.table(s"g_ann_post_$tag").count() == nPost,
      "known id must be skipped without touching the postings")
    val knownPlan = AnnIndex.knownIds(spark, tag)
      .queryExecution.executedPlan.toString
    assert(knownPlan.contains("ids_v_") && !knownPlan.contains("post_v_"),
      s"ingest guard must scan the id list, not the postings:\n$knownPlan")
    // deterministic serve: re-appending a STILL-LIVE id with a changed
    // vector serves the newest generation (max-gen, not an arbitrary
    // replica — round-9 ADVICE)
    val q = Seq((100L, vec(100L))).toDF("vec_id", "embedding")
    AnnIndex.appendToIndex(spark, Seq((7L, vec(100L))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", tag)
    def cos7() = AnnIndex.serveTopK(spark, q, "vec_id", "embedding",
        k = 10, nprobe = 4, tag = tag)
      .filter($"cand_id" === 7L).select("cos").as[Double].collect().head
    assert(cos7() > 0.999, "newest generation's vector must score")
    // compaction retains ONLY the new version: markers first, then every
    // _v_0 table directory (post/cent/tomb/meta/ids) — and serve holds
    AnnIndex.compactIndex(spark, tag)
    val baseDir = new java.io.File(
      s"${graft.sources.Bucketing.processRoot}/ann_$tag")
    Seq("post_v_0", "cent_v_0", "tomb_v_0", "meta_v_0", "ids_v_0", "ver/c_0")
      .foreach(d => assert(!new java.io.File(baseDir, d).exists, s"$d must be dropped"))
    assert(new java.io.File(baseDir, "ver/c_1").exists)
    assert(cos7() > 0.999, "serve must hold across retention cleanup")
    // compaction folds the claim watermark (6: claims 1-6 issued above)
    // into the new version's meta and truncates the markers — the claim
    // list stays O(appends since last compaction)
    assert(IndexStore.maxClaimedGen(spark, baseDir.toString).isEmpty,
      "claim markers must be truncated after compaction")
    assert(spark.table(s"g_ann_meta_$tag").select("gen")
      .as[Long].collect().head == 6L,
      "new version meta must carry the folded watermark")
    // and the next claim resumes strictly above the folded floor
    AnnIndex.appendToIndex(spark, Seq((43L, vec(43L))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", tag)
    assert(spark.table(s"g_ann_post_$tag").agg(max($"gen"))
      .as[Long].collect().head == 7L,
      "post-compaction claim must start at watermark + 1")
  }

  test("AnnIndex: recluster with every seed-stride id deleted falls back to frozen centroids (no empty-index commit)") {
    def vec(seed: Long) = (0 until 4).map(i => ((seed * 31 + i * 7) % 10).toFloat)
    val cands = (0L until 24L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val tag = "annreclusterguard"
    AnnIndex.buildIndex(spark, cands, "vec_id", "embedding", tag,
      seedStride = 8, spill = 2, buckets = 2)
    // kill every %8==0 id — the reclustered quantizer's seed set is
    // empty, which (unguarded) staged ZERO postings and committed an
    // empty version while retention deleted the old one: silent loss of
    // the whole live corpus (round-10 ADVICE, medium)
    AnnIndex.deleteFromIndex(spark,
      Seq(0L, 8L, 16L).toDF("vec_id"), "vec_id", tag)
    AnnIndex.compactIndex(spark, tag, recluster = true)
    val n = spark.table(s"g_ann_post_$tag").count()
    assert(n > 0, "guard must refuse to commit an empty reclustered index")
    val liveIds = spark.table(s"g_ann_post_$tag").select("cand_id")
      .distinct().as[Long].collect().toSet
    assert(liveIds == (0L until 24L).toSet -- Set(0L, 8L, 16L),
      "fallback compaction must still drop the tombstoned rows")
    // centroids are the FROZEN ones (re-clustering declined, not empty)
    val cents = spark.table(s"g_ann_cent_$tag").select("cent_id")
      .as[Long].collect().toSet
    assert(cents == Set(0L, 8L, 16L),
      s"frozen centroid set must survive: $cents")
    val q = (100L to 101L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    assert(AnnIndex.serveTopK(spark, q, "vec_id", "embedding",
      k = 3, nprobe = 3, tag = tag).count() > 0, "index must still serve")
  }

  test("VersionedStore.retainFrom: suffix match cannot cross versions; markers deleted before data") {
    import org.apache.hadoop.fs.Path
    import graft.sources.VersionedStore
    val base = java.nio.file.Files.createTempDirectory("graft_vers")
      .toString + "/idx"
    val fs = new Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fabricate versions 1, 10, 11 with assorted member-table dirs — the
    // exact numeric parse of the `_v_<N>` suffix is what keeps version
    // 1's cleanup away from version 10's directories
    Seq("post_v_1", "cent_v_1", "ids_v_1", "post_v_10", "meta_v_11")
      .foreach(d => fs.mkdirs(new Path(s"$base/$d")))
    Seq(1L, 10L, 11L).foreach(v => VersionedStore.commitVersion(spark, base, v))
    VersionedStore.retainFrom(spark, base, keep = 10L)
    assert(!fs.exists(new Path(s"$base/ver/c_1")), "old marker must go")
    Seq("post_v_1", "cent_v_1", "ids_v_1").foreach(d =>
      assert(!fs.exists(new Path(s"$base/$d")), s"$d must be dropped"))
    Seq("post_v_10", "meta_v_11").foreach(d =>
      assert(fs.exists(new Path(s"$base/$d")), s"$d must survive version-1 cleanup"))
    assert(VersionedStore.latest(spark, base).contains(11L))
    // the same exact parse guards gcStaged: uncommitted v_1 and v_12
    // go, committed v_10/v_11 stay
    Seq("ids_v_1", "post_v_12").foreach(d => fs.mkdirs(new Path(s"$base/$d")))
    assert(VersionedStore.gcStaged(spark, base) == Seq(1L, 12L))
    Seq("ids_v_1", "post_v_12").foreach(d =>
      assert(!fs.exists(new Path(s"$base/$d")), s"$d must be reclaimed"))
    Seq("post_v_10", "meta_v_11").foreach(d =>
      assert(fs.exists(new Path(s"$base/$d")), s"$d must survive gcStaged"))
  }

  test("ssspFixed: unit weights reduce to BFS hops; strong 2-hop route beats a weak direct edge") {
    val seeds = Seq(1L).toDF("node")
    val chain = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L))
      .toDF("item_a", "item_b", "w")
    val hops = Graph.ssspFixed(chain, seeds, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(hops == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // the reason weighted ≠ BFS: a direct weak tie (w=5) loses to the
    // two-hop strong route (1+1)
    val mixed = Seq((1L, 4L, 5L), (1L, 2L, 1L), (2L, 4L, 1L))
      .toDF("item_a", "item_b", "w")
    val d = Graph.ssspFixed(mixed, seeds, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(d(4L) == 2L, s"2-hop strong route must win: $d")
    // bounded horizon stated honestly: with ONE round the weak direct
    // edge is all that's reachable at node 4
    val d1 = Graph.ssspFixed(mixed, seeds, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(d1(4L) == 5L)
  }

  test("pagerankWarm: warm restart converges faster than a cold start (measured)") {
    // base: an IRREGULAR graph (star + tail chain — a regular graph's
    // ranks are uniform and warm==cold trivially), store CONVERGED with 6
    // iterations; update: one new leaf on the tail. Warm(2) from the
    // store must be strictly closer (L1 vs a 12-iter reference) than
    // cold(2) — the restart only wins when the store is near ITS fixed
    // point and the update is small, which is exactly the maintenance
    // regime g_pagerank_inc targets (simulated: ~3× closer here; a
    // 3-iter half-converged store barely beats cold at all).
    val star = (2L to 10L).map(i => (1L, i)) ++
      Seq((10L, 11L), (11L, 12L), (12L, 13L))
    val update = star ++ Seq((13L, 14L))
    val baseDf = star.toDF("item_a", "item_b")
    val updDf = update.toDF("item_a", "item_b")
    val stored = Graph.pagerankFixed(baseDf, iters = 6)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toMap
    val ref = m(Graph.pagerankFixed(updDf, iters = 12))
    val warm = m(Graph.pagerankWarm(stored, updDf, iters = 2))
    val cold = m(Graph.pagerankFixed(updDf, iters = 2))
    def l1(x: Map[Long, Long]) =
      ref.keys.map(k => math.abs(ref(k) - x.getOrElse(k, 0L))).sum
    assert(warm.keySet == ref.keySet, "warm must cover the updated node set")
    assert(l1(warm) < l1(cold),
      s"warm restart (${l1(warm)}) must beat cold (${l1(cold)}) at equal iterations")
  }

  test("AnnIndex.buildIndex refuses a centroid table past the broadcast ceiling") {
    // round-12 verdict #7: cells ∝ N/stride and the table is broadcast
    // on every build/serve — the ceiling must fail AT BUILD with the
    // stride remedy, not OOM an executor at 1000× the corpus
    import graft.operators.AnnIndex
    val vecs = (0L until 64L).map(i => (i, Seq(i.toFloat, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      AnnIndex.buildIndex(spark, vecs, "vec_id", "embedding",
        s"cellcap_${System.nanoTime()}", seedStride = 2, spill = 1,
        buckets = 2, maxCells = 8)
    }
    assert(e.getMessage.contains("broadcast ceiling"), e.getMessage)
    assert(e.getMessage.contains("raise"), e.getMessage)
  }

  test("mipsTopK: augmented-cosine ranking equals direct inner-product ranking") {
    import graft.operators.Similarity
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val got = Similarity.mipsTopK(e.filter(col("vec_id") < 10),
        e.filter(col("vec_id") >= 10), "vec_id", "embedding", k = 5)
      .select("query_id", "rank", "cand_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // driver-side reference: direct inner-product top-5, same tiebreak
    val vecs = e.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def ip(a: Array[Double], b: Array[Double]) =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    val want = for {
      (qid, qv) <- vecs.toSeq.filter(_._1 < 10)
      ((cid, _), rk) <- vecs.toSeq.filter(_._1 >= 10)
        .map { case (cid, cv) => (cid, ip(qv, cv)) }
        .sortBy { case (cid, s) => (-s, cid) }.take(5).zipWithIndex
    } yield (qid, rk + 1, cid)
    assert(got.toSet == want.toSet,
      "the reduction must preserve the inner-product order, ties included")
  }

  test("sceneCuts fires exactly once per doc, at the planted cut frame") {
    import graft.operators.Multimodal
    val docs = (0L until 40L).toDF("doc_id")
    val cuts = Multimodal.sceneCuts(spark,
        Multimodal.toSceneAviTable(spark, docs))
      .filter(_.is_cut).collect()
    assert(cuts.length == 40, s"got ${cuts.length} cuts for 40 docs")
    cuts.foreach { c =>
      assert(c.frame_idx == Multimodal.sceneCutAt(c.doc_id),
        s"doc ${c.doc_id}: cut at ${c.frame_idx}, planted at " +
          s"${Multimodal.sceneCutAt(c.doc_id)}")
    }
  }

  test("HilbertIndex2 is a unit-step bijection and out-localizes Morton") {
    import graft.plans.HilbertIndex2
    val bits = 4
    val side = 1 << bits
    // bijection: every cell gets a distinct d in [0, side²)
    val cells = for (x <- 0 until side; y <- 0 until side)
      yield ((x, y), HilbertIndex2.compute(x.toLong, y.toLong, bits))
    val ds = cells.map(_._2)
    assert(ds.toSet == (0L until (side.toLong * side)).toSet,
      "xy→d must be a bijection onto the curve positions")
    // locality: consecutive curve positions are GRID NEIGHBORS — the
    // property Morton lacks and the whole reason m24 exists
    val byD = cells.map { case (xy, d) => d -> xy }.toMap
    for (d <- 0L until (side.toLong * side - 1)) {
      val (x1, y1) = byD(d); val (x2, y2) = byD(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"curve step $d→${d + 1} jumped from ($x1,$y1) to ($x2,$y2)")
    }
    // codegen path == interpreted path (native Expression sanity)
    val df = (0 until side).flatMap(x => (0 until side).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")
    val viaSpark = df.select(HilbertIndex2.hilbert2(col("x"), col("y"), bits).as("d"))
      .as[Long].collect().sorted
    assert(viaSpark.toSeq == (0L until (side.toLong * side)).toSeq)
  }

  test("containmentPairsLsh surfaces every planted truncation on the full corpus") {
    import org.apache.spark.sql.functions._
    // the dd_containment_lsh contract: banding recall is deterministic
    // (fixed permutations), so every planted 0.6-truncation must
    // surface as (contained = src + 10^9, container = src) at >= 0.9 —
    // on the FULL corpus, no pinned universe. Plant every 10th doc of
    // sf0.001 for a denser test than the query's %100.
    val base = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val planted = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000000L).as("doc_id"),
        expr("substring(text, 1, CAST(length(text) * 3 DIV 5 AS INT))")
          .as("text"))
    val srcIds = planted.select((col("doc_id") - 1000000000L).as("id"))
      .as[Long].collect().toSet
    assert(srcIds.nonEmpty)
    val pairs = graft.operators.Dedup.containmentPairsLsh(
      base.unionByName(planted), "doc_id", "text",
      n = 5, k = 16, bands = 8, threshold = 0.9)
    val got = pairs
      .filter(col("contained") >= 1000000000L &&
        col("contained") - 1000000000L === col("container"))
      .select((col("contained") - 1000000000L).as("id"))
      .as[Long].collect().toSet
    assert(got == srcIds,
      s"planted truncations missed by banding: ${(srcIds -- got).toSeq.sorted}")
    // asymmetry: the full doc is NOT contained in its truncation
    val wrongWay = pairs.filter(col("container") >= 1000000000L &&
      col("container") - 1000000000L === col("contained")).count()
    assert(wrongWay == 0, s"$wrongWay full docs reported contained in their truncations")
  }

  test("containment verify degrades to shuffled-hash past the broadcast ceiling") {
    import org.apache.spark.sql.functions._
    // the warehouse-scale guard: when the signature table's estimated
    // broadcast payload exceeds graft.containment.broadcastBytes, the
    // verify stage must swap its broadcasts for shuffled-hash
    // equi-joins (no sort of the pair stream, no driver-side
    // materialization) and return the IDENTICAL result.
    val base = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").limit(300)
    def run() = graft.operators.Dedup.containmentPairsLsh(
        base, "doc_id", "text", n = 5, k = 16, bands = 8, threshold = 0.9)
    val broad = run()
    val broadRows = broad.collect().map(_.toSeq).toSet
    assert(broad.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    spark.conf.set("graft.containment.broadcastBytes", "1")
    try {
      val fallback = run()
      val plan = fallback.queryExecution.executedPlan.toString
      assert(plan.contains("ShuffledHashJoin"),
        s"expected shuffled-hash verify under a 1-byte ceiling:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        "the fallback must not reintroduce the sort (the sf1 spill killer)")
      assert(fallback.collect().map(_.toSeq).toSet == broadRows,
        "fallback changed the answer")
    } finally spark.conf.unset("graft.containment.broadcastBytes")
  }

  test("containmentPairsLsh refuses a corpus whose similarity floor floods the bands") {
    import org.apache.spark.sql.functions._
    // near-identical docs => sampled background Jaccard ~1 => every
    // band collides for RANDOM pairs: buckets flood, the hot-bucket
    // cap would drop real pairs, and recall would die silently. The
    // measured-floor assertion must fail loudly instead.
    val shared = (0 until 200).map(i => s"token$i").mkString(" ")
    val dense = spark.range(0, 64)
      .select(col("id").as("doc_id"),
        concat(lit(shared + " tail"), col("id").cast("string")).as("text"))
    val e = intercept[IllegalStateException] {
      graft.operators.Dedup.containmentPairsLsh(
        dense, "doc_id", "text", n = 5, k = 16, bands = 8, threshold = 0.9)
    }
    assert(e.getMessage.contains("maxFloorCollide"),
      s"wrong failure: ${e.getMessage.take(300)}")
  }

  test("bandDfPct shrinks the candidate stage without losing planted recall") {
    import org.apache.spark.sql.functions._
    // the dd_containment_lsh production setting: shingles in more than
    // bandDfPct% of docs leave the MinHash INPUT (verification stays on
    // the full sets). Two contracts at the query's own planting
    // density: every planted truncation still surfaces, and the capped
    // output is a SUBSET of the uncapped one — the cap can only remove
    // candidates, never add a pair (verification is unchanged, so any
    // surfaced value is already exact).
    val base = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val planted = base.filter(col("doc_id") % 100 === 0)
      .select((col("doc_id") + 1000000000L).as("doc_id"),
        expr("substring(text, 1, CAST(length(text) * 3 DIV 5 AS INT))")
          .as("text"))
    val corpus = base.unionByName(planted)
    def run(pct: Int) = graft.operators.Dedup.containmentPairsLsh(
      corpus, "doc_id", "text", n = 5, k = 16, bands = 8, threshold = 0.9,
      maxBucketSize = 1000, bandDfPct = pct)
    val capped = run(20).collect().map(_.toSeq).toSet
    val uncapped = run(100).collect().map(_.toSeq).toSet
    assert(capped.subsetOf(uncapped),
      s"df-cap invented pairs: ${(capped -- uncapped).take(5)}")
    val srcIds = planted
      .select((col("doc_id") - 1000000000L).as("id")).as[Long].collect().toSet
    assert(srcIds.nonEmpty)
    val got = capped.collect {
      case Seq(contained: Long, container: Long, _) if
        contained >= 1000000000L && contained - 1000000000L == container =>
        contained - 1000000000L
    }
    assert(got == srcIds,
      s"df-cap lost planted truncations: ${(srcIds -- got).toSeq.sorted}")
  }

  test("containmentPairsLsh refuses past the candidate-pair budget") {
    import org.apache.spark.sql.functions._
    // the floor-assertion pattern applied to TIME: the banded pair
    // mass is computed exactly from the bucket histogram before the
    // pair join runs, and a corpus past the budget fails loudly with
    // the remedy named instead of spending hours in verify.
    val base = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").limit(200)
    spark.conf.set("graft.containment.maxCandidatePairs", "10")
    try {
      val e = intercept[IllegalStateException] {
        graft.operators.Dedup.containmentPairsLsh(
          base, "doc_id", "text", n = 5, k = 16, bands = 8, threshold = 0.9)
      }
      assert(e.getMessage.contains("maxCandidatePairs"),
        s"wrong failure: ${e.getMessage.take(300)}")
    } finally spark.conf.unset("graft.containment.maxCandidatePairs")
  }
}
