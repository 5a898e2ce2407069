package graft.sources.v2

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** S5 over the wire (round-12 verdict "what's missing" #1): the
  * Companies House pagination grammar, param pushdown, 0.5 s-class
  * pacing and 429 handling, all asserted in the SERVER's request log
  * across a real loopback socket — the CH twin of EsHttpSourceSpec. */
class ChHttpSourceSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  /** 400 companies over 2024, 4 SIC codes, 3 statuses, 2 localities. */
  private val companies: Seq[Map[String, String]] = (0 until 400).map { i =>
    val day = java.time.LocalDate.of(2024, 1, 1).plusDays(i % 360)
    Map(
      "company_number" -> f"${10000000 + i}%08d",
      "company_name" -> s"ACME $i LTD",
      "company_status" -> Seq("active", "dissolved", "liquidation")(i % 3),
      "company_type" -> "ltd",
      "date_of_creation" -> day.toString,
      "locality" -> (if (i % 2 == 0) "London" else "Leeds"),
      "postal_code" -> s"E${i % 20} ${i % 9}AB",
      "sic_codes" -> (Seq("62012", "62020", "70229", "82990")(i % 4) +
        (if (i % 5 == 0) ",99999" else "")))
  }

  private def withStub[T](reject429Every: Int = 0,
      retryAfterSec: Option[Int] = None,
      sub: Map[(String, String), Seq[Map[String, String]]] = Map.empty,
      sub404FromIndex: Int = -1)(
      f: (String, ChHttpStub) => T): T = {
    val stub = new ChHttpStub(companies, reject429Every, retryAfterSec, sub,
      sub404FromIndex)
    val url = stub.start()
    try f(url, stub) finally stub.stop()
  }

  private def reader(url: String) = spark.read
    .format(classOf[ChHttpTableProvider].getName)
    .option("url", url).option("items_per_page", "50")
    .option("calls_per_sec", "1000") // pacing has its own dedicated test

  test("full scan round-trips all companies with basic-auth and paging") {
    withStub() { (url, stub) =>
      val df = reader(url).load()
      assert(df.count() == 400)
      assert(stub.sawAuth.get(), "no Authorization header reached the server")
      // 400 rows at size 50 → start_index cursors 0,50,…,400 in the log
      val uris = stub.requestLog.asScala.map(_._1).toSeq
      assert(uris.exists(_.contains("start_index=0")))
      assert(uris.exists(_.contains("start_index=350")))
      assert(uris.forall(_.contains("size=50")))
    }
  }

  test("SIC + date-range + status push down as the reference's params") {
    withStub() { (url, stub) =>
      val df = reader(url).load()
        .filter(col("date_of_creation") >= "2024-03-01" &&
          col("date_of_creation") <= "2024-09-30" &&
          col("company_status") === "active" &&
          col("sic_codes").contains("62012"))
      val got = df.select("company_number").collect().map(_.getString(0)).toSet
      val want = companies.filter(c =>
        c("date_of_creation") >= "2024-03-01" &&
          c("date_of_creation") <= "2024-09-30" &&
          c("company_status") == "active" &&
          c("sic_codes").split(",").contains("62012"))
        .map(_("company_number")).toSet
      assert(got == want && got.nonEmpty)
      // the SERVER received every param — the narrowing happened there
      val uris = stub.requestLog.asScala.map(_._1).toSeq
      assert(uris.nonEmpty)
      assert(uris.forall(_.contains("incorporated_from=2024-03-01")), uris.head)
      assert(uris.forall(_.contains("incorporated_to=2024-09-30")), uris.head)
      assert(uris.forall(_.contains("company_status=active")), uris.head)
      assert(uris.forall(_.contains("sic_codes=62012")), uris.head)
      // and the plan shows the pushdown
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ChHttpScan params=["), plan)
      assert(plan.contains("incorporated_from=2024-03-01"), plan)
    }
  }

  test("a partial SIC prefix is NOT pushed (membership under-returns substring)") {
    withStub() { (url, stub) =>
      // "6201" substring-matches 62012's row but is not a list member —
      // pushing it as a param would drop rows the predicate admits
      val df = reader(url).load().filter(col("sic_codes").contains("6201"))
      val got = df.count()
      val want = companies.count(_("sic_codes").contains("6201"))
      assert(got == want && got > 0)
      val uris = stub.requestLog.asScala.map(_._1).toSeq
      assert(uris.forall(!_.contains("sic_codes=")),
        s"partial code was pushed: ${uris.head}")
    }
  }

  test("a pushed date range splits into parallel sub-range cursors") {
    withStub() { (url, stub) =>
      val df = reader(url).option("splits", "3").load()
        .filter(col("date_of_creation") >= "2024-01-01" &&
          col("date_of_creation") <= "2024-12-31")
      assert(df.rdd.getNumPartitions == 3, "range did not split")
      assert(df.count() == 400)
      // three disjoint sub-ranges each ran their own cursor
      val froms = stub.requestLog.asScala.map(_._1)
        .flatMap(_.split("[?&]").find(_.startsWith("incorporated_from=")))
        .toSet
      assert(froms.size == 3, s"sub-ranges seen: $froms")
      // splitting must not double-count or drop: exact union
      val got = reader(url).option("splits", "3").load()
        .filter(col("date_of_creation") >= "2024-01-01" &&
          col("date_of_creation") <= "2024-12-31")
        .select("company_number").collect().map(_.getString(0)).toSeq
      assert(got.sorted == companies.map(_("company_number")).sorted)
    }
  }

  test("limit pushdown caps page size and stops the cursor early") {
    withStub() { (url, stub) =>
      val got = reader(url).load().limit(7).collect()
      assert(got.length == 7)
      val uris = stub.requestLog.asScala.map(_._1).toSeq
      assert(uris.forall(_.contains("size=7")), uris.head)
      assert(uris.size <= 2, s"kept paging past the limit: ${uris.size}")
    }
  }

  test("the token bucket paces requests at the configured rate") {
    withStub() { (url, stub) =>
      // 4 calls/s (the 0.5 s contract scaled for test time): 400 rows at
      // size 100 → 5 requests → ≥4 paced gaps of ~250 ms
      val t0 = System.currentTimeMillis()
      val n = spark.read.format(classOf[ChHttpTableProvider].getName)
        .option("url", url).option("items_per_page", "100")
        .option("calls_per_sec", "4").load().count()
      val elapsed = System.currentTimeMillis() - t0
      assert(n == 400)
      val times = stub.requestLog.asScala.map(_._2).toSeq.sorted
      assert(times.size >= 5)
      // server-observed spacing: mean gap ≥ 80% of the 250 ms budget
      val gaps = times.sliding(2).map { case Seq(a, b) => b - a }.toSeq
      val meanGap = gaps.sum.toDouble / gaps.size
      assert(meanGap >= 200.0,
        s"mean inter-request gap ${meanGap}ms under the 250ms budget " +
          s"(elapsed ${elapsed}ms, gaps $gaps)")
    }
  }

  test("splitRange partitions any date span exactly: disjoint, covering, ordered") {
    for ((from, to, n) <- Seq(
        ("2024-01-01", "2024-12-31", 3), ("2024-01-01", "2024-01-01", 4),
        ("2024-01-01", "2024-01-03", 8), ("2023-02-27", "2024-03-02", 5))) {
      val parts = ChHttp.splitRange(from, to, n)
      assert(parts.head._1 == from && parts.last._2 == to, parts)
      parts.foreach { case (lo, hi) => assert(lo <= hi, parts) }
      parts.sliding(2).foreach {
        case Seq((_, hi), (lo2, _)) =>
          assert(java.time.LocalDate.parse(hi).plusDays(1).toString == lo2,
            s"gap or overlap in $parts")
        case _ => ()
      }
      val days = java.time.temporal.ChronoUnit.DAYS.between(
        java.time.LocalDate.parse(from), java.time.LocalDate.parse(to)) + 1
      assert(parts.length == math.min(n.toLong, days), parts)
    }
  }

  test("incremental harvest: delta windows, idempotent re-runs, persisted watermark") {
    withStub() { (url, stub) =>
      import graft.operators.ChHarvest
      val base = java.nio.file.Files
        .createTempDirectory("ch_harvest").toString
      def froms() = stub.requestLog.asScala.map(_._1)
        .flatMap(_.split("[?&]").find(_.startsWith("incorporated_from=")))
        .toSet
      // first run covers [start, Feb 29] — the server sees the full window
      val (n1, w1) = ChHarvest.harvest(spark, url, base, "2024-02-29",
        callsPerSec = 1000)
      val wantFeb = companies.count(_("date_of_creation") <= "2024-02-29")
      assert(n1 == wantFeb && w1 == "2024-02-29")
      assert(froms() == Set("incorporated_from=2000-01-01"), froms())
      assert(ChHarvest.table(spark, base).count() == wantFeb)
      // second run fetches ONLY the delta: from = watermark + 1 day
      stub.requestLog.clear()
      val (n2, w2) = ChHarvest.harvest(spark, url, base, "2024-12-31",
        callsPerSec = 1000)
      assert(n2 == companies.size - wantFeb && w2 == "2024-12-31")
      assert(froms() == Set("incorporated_from=2024-03-01"), froms())
      val t = ChHarvest.table(spark, base)
      assert(t.count() == companies.size)
      assert(t.select("company_number").distinct().count() == companies.size,
        "upsert by business key must keep each company once")
      // an already-covered window makes NO request and changes nothing
      stub.requestLog.clear()
      val (n3, w3) = ChHarvest.harvest(spark, url, base, "2024-12-31",
        callsPerSec = 1000)
      assert(n3 == 0L && w3 == "2024-12-31")
      assert(stub.requestLog.isEmpty, "covered window must not hit the API")
      assert(ChHarvest.table(spark, base).count() == companies.size)
    }
  }

  test("ChHarvest crash between stage and marker: table and watermark agree, a retry re-covers the window") {
    withStub() { (url, stub) =>
      import graft.operators.ChHarvest
      val base = java.nio.file.Files
        .createTempDirectory("ch_harvest_crash").toString
      def froms() = stub.requestLog.asScala.map(_._1)
        .flatMap(_.split("[?&]").find(_.startsWith("incorporated_from=")))
        .toSet
      val wantFeb = companies.count(_("date_of_creation") <= "2024-02-29")
      ChHarvest.harvest(spark, url, base, "2024-02-29", callsPerSec = 1000)
      // CRASH SIM: the next run fetches and stages its merged table with
      // the advanced watermark, then dies before the marker
      assert(ChHarvest.stage(spark, url, base, "2024-12-31", splits = 1,
        start = "2000-01-01", callsPerSec = 1000).isRight)
      val t = ChHarvest.table(spark, base)
      assert(t.count() == wantFeb, "an uncommitted stage must not serve")
      assert(t.filter(col("date_of_creation") > "2024-02-29").isEmpty,
        "the table must hold nothing past its committed watermark")
      // the retry starts from the committed watermark, so it re-covers
      // the window, and the business-key upsert keeps the table exact
      stub.requestLog.clear()
      val (n4, w4) = ChHarvest.harvest(spark, url, base, "2024-12-31",
        callsPerSec = 1000)
      assert(froms() == Set("incorporated_from=2024-03-01"), froms())
      assert(n4 == companies.size - wantFeb && w4 == "2024-12-31",
        "retry must re-cover the un-watermarked window")
      val t4 = ChHarvest.table(spark, base)
      assert(t4.count() == companies.size &&
        t4.select("company_number").distinct().count() == companies.size,
        "re-covered rows must upsert, not duplicate")
    }
  }

  test("429 Retry-After is honored over the socket; the scan completes") {
    withStub(reject429Every = 4, retryAfterSec = Some(0)) { (url, stub) =>
      val df = reader(url).load()
      assert(df.count() == 400)
      assert(stub.rejected429.get() > 0, "the injector never fired")
      val nums = df.select("company_number").collect()
        .map(_.getString(0)).toSet
      assert(nums.size == 400, "a rejected page was silently dropped")
    }
  }

  test("company -> officers -> charges enrichment shares one paced bucket across endpoints") {
    import scala.jdk.CollectionConverters._
    // the reference's per-company sub-resources (api_clients.py:179-203)
    // through ONE process-global token bucket with the search scan: the
    // server's own log must show a single paced request stream across
    // /advanced-search and /company/{n}/{officers,charges}, and the
    // items must land flattened and joined to their company numbers.
    val nums = companies.take(6).map(_("company_number"))
    val sub = nums.zipWithIndex.flatMap { case (n, i) =>
      Seq(
        (n, "officers") -> (0 to i % 3).map(j => Map(
          "name" -> s"OFFICER $j OF $n", "officer_role" -> "director",
          "appointed_on" -> s"2024-01-0${j + 1}")),
        (n, "charges") -> (if (i % 2 == 0) Seq(Map(
          "status" -> "outstanding", "created_on" -> "2024-06-01"))
        else Seq.empty))
    }.toMap
    withStub(sub = sub) { (url, stub) =>
      // a fresh url => a fresh bucket: 5 req/s across EVERYTHING below
      val rate = 5.0
      val six = nums.toSet
      val scanned = spark.read
        .format(classOf[ChHttpTableProvider].getName)
        .option("url", url).option("items_per_page", "100")
        .option("calls_per_sec", rate.toString).load()
        .filter(col("company_number").isin(nums: _*))
        .select("company_number")
      val off = graft.operators.ChEnrich.officers(
        spark, url, scanned, callsPerSec = rate)
      val ch = graft.operators.ChEnrich.charges(
        spark, url, scanned, callsPerSec = rate)
      val gotOff = off.collect().map(r =>
        (r.getString(0), r.getString(1))).toSet
      val wantOff = sub.collect { case ((n, "officers"), items) =>
        items.map(m => (n, m("name")))
      }.flatten.toSet
      assert(gotOff == wantOff, s"officers mismatch: $gotOff vs $wantOff")
      // 404 for odd companies' charges = zero rows, not an error
      val gotCh = ch.select("company_number").collect()
        .map(_.getString(0)).toSet
      val wantCh = sub.collect {
        case ((n, "charges"), items) if items.nonEmpty => n }.toSet
      assert(gotCh == wantCh, s"charges mismatch: $gotCh vs $wantCh")
      assert(stub.sawAuth.get(), "enrichment must send basic-auth")
      // one paced stream: the server-observed gaps across ALL endpoints
      // (search pages + officers + charges) obey the shared bucket
      val log = stub.requestLog.asScala.toSeq
      assert(log.exists(_._1.contains("/officers")) &&
        log.exists(_._1.contains("/charges")) &&
        log.exists(_._1.contains("/advanced-search")),
        s"expected all three endpoint families in the log: ${log.map(_._1)}")
      val times = log.map(_._2).sorted
      val gaps = times.sliding(2).map { case Seq(a, b) => b - a }.toSeq
      val meanGap = gaps.sum.toDouble / gaps.size
      assert(meanGap >= 0.8 * 1000.0 / rate,
        s"mean inter-request gap ${meanGap}ms under the shared-bucket " +
          s"budget ${1000.0 / rate}ms (gaps $gaps)")
    }
  }

  test("sub-resource enrichment paginates start_index until total_results is exhausted") {
    import scala.jdk.CollectionConverters._
    // a company with more items than items_per_page must NOT be
    // silently truncated to its first page (the fail-loudly contract;
    // the reference client single-pages here — a truncation this
    // implementation deliberately does not reproduce)
    val n = companies.head("company_number")
    val items = (0 until 8).map(i => Map(
      "name" -> s"OFFICER $i OF $n", "officer_role" -> "director",
      "appointed_on" -> f"2024-01-${i + 1}%02d"))
    withStub(sub = Map((n, "officers") -> items)) { (url, stub) =>
      val one = spark.createDataFrame(
        Seq(Tuple1(n))).toDF("company_number")
      val got = graft.operators.ChEnrich.subResource(
          spark, url, one, "officers",
          Seq("name", "officer_role", "appointed_on"),
          itemsPerPage = 3, callsPerSec = 50.0)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(got == items.map(m => (n, m("name"))).toSet,
        s"pagination lost rows: got ${got.size} of ${items.size}")
      // 8 items at size 3 -> exactly the cursors 0, 3, 6 in the log
      val cursors = stub.requestLog.asScala.toSeq.map(_._1)
        .filter(_.contains("/officers"))
        .flatMap(_.split('&').find(_.startsWith("start_index=")))
      assert(cursors.sorted == Seq("start_index=0", "start_index=3",
        "start_index=6"), s"unexpected cursor sequence: $cursors")
    }
  }

  test("a 404 mid-pagination fails loudly instead of truncating the collection") {
    // the envelope promised 8 officers; the server then 404s the page
    // at start_index=3. Ending the cursor quietly would emit 3 of 8
    // rows AS IF COMPLETE — the exact silent truncation the
    // sub-resource contract forbids — so the fetch must throw, naming
    // the company, the cursor, and the stated total.
    val n = companies.head("company_number")
    val items = (0 until 8).map(i => Map(
      "name" -> s"OFFICER $i OF $n", "officer_role" -> "director",
      "appointed_on" -> f"2024-01-${i + 1}%02d"))
    withStub(sub = Map((n, "officers") -> items), sub404FromIndex = 3) {
      (url, _) =>
        val one = spark.createDataFrame(
          Seq(Tuple1(n))).toDF("company_number")
        val e = intercept[org.apache.spark.SparkException] {
          graft.operators.ChEnrich.subResource(
              spark, url, one, "officers",
              Seq("name", "officer_role", "appointed_on"),
              itemsPerPage = 3, callsPerSec = 50.0)
            .collect()
        }
        val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
        assert(msg != null && msg.contains("truncated") &&
          msg.contains("total_results=8"),
          s"wrong failure: ${Option(msg).getOrElse("null").take(300)}")
    }
  }
}
