package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.SparkEntry
import graft.sources.{Catalog, TableStore}

/** The repository benchmark's main class. It runs one workload against the
  * engine's public entry points (`SparkEntry.queries`,
  * `ApplicantStream.writer`, `TableStore`) in a closed loop with one
  * client thread, checks every op's output, and writes one JSON result.
  *
  * Layers are measured from outside the engine: the benchmark times its own
  * calls into each module, and with tracing on it also records Spark jobs
  * and stages (a `SparkListener`), Catalyst phases
  * (`QueryExecution.tracker`), micro-batch progress
  * (`StreamingQueryListener`) and each job's call site, which names the
  * `graft.*` file that launched it.
  *
  * Usage: `perfbench.Bench key=value ...` with keys workload, seed,
  * seconds, trace, data, out, cpus, rounds, expect and record (query
  * workloads), ingest and warm_batches (ingest); `perfbench/run.py`
  * supplies them. */
object Bench {

  /** `serve`: short dashboard queries, one fixed-order cycle. */
  val Serve: Seq[String] = Seq(
    "q1_agg", "q2_min_cost_supplier", "q3_shipping_priority",
    "q5_local_supplier", "q6_forecast_revenue", "q9_product_profit",
    "q10_returned_item", "q13_cust_dist", "q17_small_qty_revenue",
    "q18_large_orders", "q20_potential_promotion", "q21_waiting_supplier",
    "j1_left_join_agg", "j11_range_join", "j14_dpp_join", "w1_topk_per_group",
    "t7_daily_window", "t8_sessionize", "t9_asof_join", "t12_hopping_window",
    "a42_hll", "dd_exact", "g_degrees", "dq_expectations")

  /** `curate`: heavy data-curation operator queries, each from a cleared
    * cache. */
  val Curate: Seq[String] = Seq(
    "corpus_curate", "dd_minhash_lsh", "dd_containment_lsh", "dd_components",
    "j6_fuzzy_join", "txt_bm25", "dd_substring_cut", "g_pagerank",
    "sim_ivf_multiprobe", "txt_bm25_stored", "rec_item_cf")

  // ---------------------------------------------------------------- output checks

  /** Order-independent summary of a result: row count, a hash of every
    * non-floating column, and per floating column the sum and the sum of
    * absolute values (compared with a relative tolerance, since partial
    * aggregates merge in partition order). */
  final case class Summary(rows: Long, hash: Long, sums: Array[Double],
      abs: Array[Double]) {
    def tsv: String = s"$rows\t$hash\t" +
      sums.indices.map(i => s"${sums(i)}/${abs(i)}").mkString(";")
    def matches(e: Summary): Boolean =
      rows == e.rows && hash == e.hash && sums.length == e.sums.length &&
        sums.indices.forall { i =>
          math.abs(sums(i) - e.sums(i)) <=
            1e-9 * math.max(1.0, math.max(abs(i), e.abs(i)))
        }
  }

  object Summary {
    def parse(cols: Array[String]): Summary = {
      val d = if (cols.length > 2 && cols(2).nonEmpty)
        cols(2).split(";").map(_.split("/").map(_.toDouble)) else Array.empty[Array[Double]]
      Summary(cols(0).toLong, cols(1).toLong, d.map(_(0)), d.map(_(1)))
    }
  }

  /** Materializes every row of `df` (the op's execute phase) and
    * summarizes it in the same pass. */
  def materialize(df: DataFrame): Summary = {
    val types = df.schema.fields.map(_.dataType)
    val fp = types.indices.filter(i => types(i) == DoubleType || types(i) == FloatType).toArray
    val other = types.indices.filterNot(fp.contains).toArray
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      val s = new Array[Double](fp.length)
      val a = new Array[Double](fp.length)
      it.foreach { r =>
        n += 1
        var rh = 42L
        other.foreach { i =>
          rh = XxHash64Function.hash(if (r.isNullAt(i)) null else r.get(i, types(i)),
            types(i), rh)
        }
        var k = 0
        while (k < fp.length) {
          val i = fp(k)
          if (r.isNullAt(i)) rh = rh * 31 + 1
          else {
            val v = if (types(i) == DoubleType) r.getDouble(i) else r.getFloat(i).toDouble
            if (v.isNaN) rh = rh * 31 + 2 else { s(k) += v; a(k) += math.abs(v) }
          }
          k += 1
        }
        h += rh
      }
      Iterator((n, h, s, a))
    }.collect()
    Summary(parts.map(_._1).sum, parts.map(_._2).sum,
      fp.indices.map(k => parts.map(_._3(k)).sum).toArray,
      fp.indices.map(k => parts.map(_._4(k)).sum).toArray)
  }

  // ---------------------------------------------------------------- tracing

  final class Span(val id: Int, val parent: Int, val kind: String,
      val name: String, val start: Double, var end: Double) {
    val attrs: mutable.Map[String, Any] = mutable.LinkedHashMap.empty
    def ms: Double = end - start
  }

  /** In-memory span recorder. Times are epoch milliseconds (fractional).
    * Bench spans nest on the client thread; the active span id travels to
    * Spark jobs as the `perfbench.span` local property. */
  final class Tracer(spark: SparkSession) {
    val spans = mutable.ArrayBuffer.empty[Span]
    private val epoch0 = System.currentTimeMillis().toDouble
    private val nano0 = System.nanoTime()
    def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
    private var stack: List[Span] = Nil
    var on = false

    def span[T](kind: String, name: String)(f: => T): T =
      if (!on) f
      else {
        val s = add(kind, name, stack.headOption.map(_.id).getOrElse(-1), now(), 0.0)
        stack = s :: stack
        spark.sparkContext.setLocalProperty("perfbench.span", s.id.toString)
        try f
        finally {
          s.end = now()
          stack = stack.tail
          spark.sparkContext.setLocalProperty("perfbench.span",
            stack.headOption.map(_.id.toString).orNull)
        }
      }

    def add(kind: String, name: String, parent: Int, start: Double,
        end: Double): Span = synchronized {
      val s = new Span(spans.size, parent, kind, name, start, end)
      spans += s
      s
    }
    def current: Option[Span] = stack.headOption
  }

  /** Spark-side facts gathered by the listeners: the Spark listener is
    * attached around traced ops only, the streaming listener for the
    * whole of a traced run. */
  final class Recorder extends SparkListener {
    final case class Job(id: Int, span: Int, batch: Long, owner: String,
        site: String, write: Boolean, start: Double, var end: Double, stages: Seq[Int])
    final case class Stage(id: Int, start: Double, end: Double,
        tasks: Int, cpuMs: Double, runMs: Double, inRecords: Long,
        shRead: Long, shWrite: Long, spill: Long, outBytes: Long)
    val jobs = new ConcurrentHashMap[Int, Job]()
    val stages = new ConcurrentHashMap[Int, Stage]()
    val taskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()
    private val execSite = new ConcurrentHashMap[Long, (String, Boolean)]()
    val batches = new ConcurrentHashMap[Long, Map[String, Double]]()

    /** The innermost engine frame in a call site's long form, as
      * `<package>.<File>` (e.g. `operators.Dedup`). `Q`'s helpers are
      * shared by every registry file, so the caller owns their jobs. */
    def owner(longForm: String): String =
      longForm.linesIterator.map(_.trim).find(l => l.startsWith("graft.") &&
        !l.startsWith("graft.queries.Q$")).map { l =>
        val pkg = l.split('.')(1)
        val file = l.substring(l.lastIndexOf('(') + 1).takeWhile(_ != '.')
        if (file == "Tables") "sources.Tables"
        else if (pkg.head.isUpper) s"root.$file" else s"$pkg.$file"
      }.getOrElse("bench")

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execSite.put(s.executionId,
        (s.details, s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand")))
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val marker = p.flatMap(x => Option(x.getProperty("perfbench.marker")))
      val span = p.flatMap(x => Option(x.getProperty("perfbench.span"))).map(_.toInt)
      val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).map(_.toLong)
      marker.foreach(m => markerJobs.put(e.jobId, m.toInt))
      if (marker.isEmpty && (span.isDefined || batch.isDefined)) {
        val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(execSite.get(id.toLong)))
        // Spark reports every micro-batch job at the stream's start() call
        // site; the stream thread, blocked in the job, shows the launcher
        val site = if (batch.isDefined) streamStack()
          else exec.map(_._1).getOrElse(e.stageInfos.maxBy(_.stageId).details)
        val short = e.stageInfos.maxBy(_.stageId).name
        e.stageIds.foreach(stageJob.put(_, e.jobId))
        jobs.put(e.jobId, Job(e.jobId, span.getOrElse(-1), batch.getOrElse(-1L),
          owner(site), short, exec.exists(_._2), e.time.toDouble, 0.0, e.stageIds))
      }
    }

    private var streamThread: Option[Thread] = None
    private def streamStack(): String = {
      if (!streamThread.exists(_.isAlive))
        streamThread = Thread.getAllStackTraces.keySet.asScala
          .find(_.getName.startsWith("stream execution thread"))
      streamThread.map(_.getStackTrace.map(f =>
        s"${f.getClassName}.${f.getMethodName}(${f.getFileName}:${f.getLineNumber})")
        .mkString("\n")).getOrElse("")
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
      Option(markerJobs.remove(e.jobId)).foreach(m => markerSeen = math.max(markerSeen, m))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageJob.containsKey(e.stageId) && e.taskInfo != null)
        taskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
          .synchronized { taskMs.get(e.stageId) += e.taskInfo.duration }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      if (stageJob.containsKey(i.stageId)) {
        val m = i.taskMetrics
        stages.put(i.stageId, Stage(i.stageId,
          i.submissionTime.getOrElse(0L).toDouble, i.completionTime.getOrElse(0L).toDouble,
          i.numTasks, m.executorCpuTime / 1e6, m.executorRunTime.toDouble,
          m.inputMetrics.recordsRead, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.outputMetrics.bytesWritten))
      }
    }

    private val markerJobs = new ConcurrentHashMap[Int, Int]()
    @volatile private var markerSeen = 0
    private var markers = 0

    /** Listens from here on; only traced ops run with the listener
      * attached, so untraced ops pay none of its cost. */
    def attach(sc: SparkContext): Unit = sc.addSparkListener(this)

    /** Stops listening once the bus has delivered every event posted so
      * far: a one-task marker job is the last event in the queue, and
      * Spark posts a job's task and stage ends before its job end. */
    def detach(sc: SparkContext): Unit = {
      markers += 1
      sc.setLocalProperty("perfbench.marker", markers.toString)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("perfbench.marker", null)
      val deadline = System.currentTimeMillis() + 10000
      while (markerSeen < markers && System.currentTimeMillis() < deadline) Thread.sleep(5)
      sc.removeSparkListener(this)
    }

    /** Stays attached for the whole run: one cheap callback per
      * micro-batch, and batch progress is matched to ops afterwards. */
    val streamListener: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0)
          batches.put(e.progress.batchId,
            e.progress.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap +
              ("at" -> java.time.Instant.parse(e.progress.timestamp).toEpochMilli.toDouble))
    }
  }

  object Plans extends AdaptiveSparkPlanHelper

  // ---------------------------------------------------------------- the run

  final case class Op(name: String, traced: Boolean, ms: Double,
      ok: Boolean, rows: Long, span: Int, extra: Map[String, Double] = Map.empty)

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = args("workload")
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val data = args("data")
    val rounds = args("rounds").toInt
    val cpus = args("cpus").toInt
    val out = args("out")
    val recordTo = args.get("record")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    val spark = graft.GraftSession.build("perfbench", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tracer = new Tracer(spark)
    val rec = new Recorder
    if (trace) spark.streams.addListener(rec.streamListener)
    /** Runs `f` with the Spark listener attached when `on`. */
    def listening[T](on: Boolean)(f: => T): T =
      if (!on) f
      else {
        rec.attach(spark.sparkContext)
        try f finally rec.detach(spark.sparkContext)
      }

    val expected: Map[String, Summary] = args.get("expect").filter(p => Files.exists(Paths.get(p)))
      .map(p => Files.readAllLines(Paths.get(p)).asScala.filter(_.nonEmpty).map { l =>
        val c = l.split("\t", -1)
        c(0) -> Summary.parse(c.drop(1))
      }.toMap).getOrElse(Map.empty)
    val recorded = mutable.LinkedHashMap.empty[String, Summary]
    val failures = mutable.ArrayBuffer.empty[String]

    def storageMb(): Double =
      spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
    // peak cached-data storage over the warm-up pass, which runs every op
    // exactly once, so runs and commits compare the same work
    var peakCache = 0.0
    var warmCacheMb = 0.0

    /** One registry query as one op: construct, plan, execute. */
    def queryOp(name: String): (Boolean, Long) = {
      val df = tracer.span("construct", name)(SparkEntry.queries(name)(spark, data))
      tracer.span("plan", name) {
        df.queryExecution.executedPlan
        tracer.current.foreach { plan =>
          df.queryExecution.tracker.phases.foreach { case (k, v) =>
            plan.attrs(k) = v.durationMs.toDouble
            tracer.add("phase", k, plan.id, v.startTimeMs.toDouble, v.endTimeMs.toDouble)
          }
        }
      }
      val got = tracer.span("execute", name)(materialize(df))
      recorded(name) = got
      expected.get(name) match {
        case Some(e) if got.matches(e) => (true, got.rows)
        case Some(e) =>
          failures += s"$name: got ${got.tsv} expected ${e.tsv}"
          (false, got.rows)
        case None =>
          if (recordTo.isEmpty) failures += s"$name: no expectation recorded"
          (recordTo.isDefined, got.rows)
      }
    }

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e6)
    }

    val ops = mutable.ArrayBuffer.empty[Op]
    def runOp(name: String, traceThis: Boolean)(f: => (Boolean, Long)): Op = {
      tracer.on = traceThis
      var spanId = -1
      val ((ok, rows), ms) = timed {
        try tracer.span("op", name) {
          spanId = tracer.current.map(_.id).getOrElse(-1)
          f
        } catch { case e: Throwable =>
          failures += s"$name: ${e.toString.take(300)}"
          (false, 0L)
        }
      }
      tracer.on = false
      peakCache = math.max(peakCache, storageMb())
      Op(name, traceThis, ms, ok, rows, spanId)
    }
    def tracedAt(pos: Int, cycle: Int): Boolean = trace && (pos + cycle) % 2 == 0

    val seedN = args("seed").toLong
    // set-up = the repeatable part (median of `rounds` repetitions) plus
    // the one-time warm-up pass that fills caches and compiles code
    var setupRounds = Seq.empty[Double]
    var warmS = 0.0
    val warmOps = mutable.ArrayBuffer.empty[Op]
    var timedS = 0.0
    var gc0 = 0L
    def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def startWindow(): Double = {
      warmCacheMb = peakCache
      gc0 = gcMs()
      heapPools.foreach(_.resetPeakUsage())
      tracer.now()
    }
    var storeFiles = 0.0

    workload match {
      case "serve" | "curate" =>
        val list = if (workload == "serve") Serve else Curate
        // the seed picks where in the fixed-order cycle the client starts
        val order = list.indices.map(i => list((i + (seedN % list.size).toInt) % list.size))
        val cold = workload == "curate"
        def clear(): Unit = {
          spark.catalog.clearCache()
          graft.operators.Scratch.releaseAll()
        }
        setupRounds = (1 to rounds).map { _ =>
          timed {
            clear()
            graft.Tables.names.foreach(t => graft.Tables.load(spark, data, t))
          }._2 / 1000.0
        }
        warmS = timed(order.foreach { n =>
          if (cold) clear()
          warmOps += runOp(n, traceThis = false)(queryOp(n))
        })._2 / 1000.0
        clear()
        val t0 = startWindow()
        val deadline = System.nanoTime() + (seconds * 1e9).toLong
        var i = 0
        while (System.nanoTime() < deadline || i == 0) {
          val (pos, cycle) = (i % order.size, i / order.size)
          if (cold) clear()
          val t = tracedAt(pos, cycle)
          ops += listening(t)(runOp(order(pos), t)(queryOp(order(pos))))
          i += 1
        }
        timedS = (tracer.now() - t0) / 1000.0

      case "ingest" =>
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        import spark.implicits._
        val lines = Files.readAllLines(Paths.get(args("ingest"))).asScala.toIndexedSeq
        val meta = new String(Files.readAllBytes(Paths.get(args("ingest") + ".json")))
        val batchRows = "\"batch_rows\": (\\d+)".r.findFirstMatchIn(meta).get.group(1).toInt
        val counts = "\\{\"applicants\": (\\d+), \"planning_applications\": (\\d+)\\}".r
          .findAllMatchIn(meta).map(m => (m.group(1).toLong, m.group(2).toLong)).toIndexedSeq
        def nul(s: String): String = if (s == "\\N") null else s
        val rows = lines.map { l =>
          val c = l.split("\t", -1)
          (c(0).toLong, nul(c(1)), nul(c(2)))
        }
        def batch(b: Int) = rows.slice(b * batchRows, (b + 1) * batchRows)
        val companies = spark.read.parquet(s"$data/companies.parquet")
        val warmBatches = args("warm_batches").toInt
        var store: TableStore = null
        var root = ""
        var mem: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String)] = null
        var query: org.apache.spark.sql.streaming.StreamingQuery = null
        var fed = 0
        def dashboard(): (Long, Long) = {
          val df = store.read("applicant_company_matches").groupBy("match_method")
            .agg(count(lit(1)).as("matches"), avg("confidence_score").as("avg_confidence"))
          val n = df.collect().map(_.getLong(1)).sum
          val files = Plans.collect(df.queryExecution.executedPlan) {
            case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          }.sum
          (n, files)
        }
        def feed(b: Int, traceThis: Boolean): Op = listening(traceThis) {
          val op = runOp("batch", traceThis) {
            mem.addData(batch(b))
            query.processAllAvailable()
            fed = b + 1
            (true, batch(b).size.toLong)
          }
          tracer.on = traceThis
          val read = try Some(timed(tracer.span("read", "dashboard")(dashboard())))
            catch { case e: Throwable => failures += s"dashboard read: ${e.toString.take(300)}"; None }
          tracer.on = false
          op.copy(ok = op.ok && read.isDefined,
            extra = Map("read_ms" -> read.map(_._2).getOrElse(0.0),
              "read_files" -> read.map(_._1._2.toDouble).getOrElse(0.0),
              "new_bytes" -> lines.slice(b * batchRows, (b + 1) * batchRows)
                .map(_.getBytes("UTF-8").length).sum.toDouble))
        }
        def start(r: Int): Unit = {
          root = s"${args("out")}/store-$r"
          store = new TableStore(spark, root)
          store.overwrite("appointments", Catalog.conform(
            spark.read.parquet(s"$data/appointments.parquet"), Catalog.appointments))
          mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String)]
          query = graft.streaming.ApplicantStream.writer(store,
            mem.toDF().toDF("input_id", "planning_reference", "applicant_name"),
            "input_id", "planning_reference", "applicant_name",
            borough = "bench", companies = companies)
            .option("checkpointLocation", s"$root/_checkpoint").start()
          fed = 0
        }
        setupRounds = (1 to rounds).map { r =>
          if (query != null) {
            query.stop()
            val old = new org.apache.hadoop.fs.Path(root)
            old.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(old, true)
          }
          timed(start(r))._2 / 1000.0
        }
        warmS = timed((0 until warmBatches).foreach(b => warmOps += feed(b, traceThis = false)))._2 / 1000.0
        val t0 = startWindow()
        val deadline = System.nanoTime() + (seconds * 1e9).toLong
        while ((System.nanoTime() < deadline || ops.isEmpty) && fed < counts.size) {
          ops += feed(fed, tracedAt(0, ops.size))
        }
        timedS = (tracer.now() - t0) / 1000.0
        query.stop()
        // end-state audit, one more checked op: the store holds exactly the
        // generator's distinct valid applicants and references (so
        // redeliveries added nothing) and no business key is duplicated
        val audit = runOp("audit", traceThis = false) {
          val (apps, pas) = counts(fed - 1)
          val got = Seq("applicants" -> apps, "planning_applications" -> pas).map {
            case (t, want) => (t, store.read(t).count(), want) }
          got.filter(g => g._2 != g._3).foreach { case (t, n, want) =>
            failures += s"$t: $n rows after ${fed} batches, expected $want" }
          val keyed = Catalog.all.filter(t => t.businessKey.nonEmpty && store.exists(t.name))
          val bad = keyed.map(t => t.name -> store.keyViolations(t.name).count()).filter(_._2 > 0)
          bad.foreach { case (t, n) => failures += s"$t: $n business-key violations" }
          (bad.isEmpty && got.forall(g => g._2 == g._3), 0L)
        }
        ops += audit.copy(ms = 0.0)
        val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
        val files = fs.listFiles(new org.apache.hadoop.fs.Path(root), true)
        var nFiles = 0L
        while (files.hasNext) {
          val f = files.next().getPath
          if (f.getName.endsWith(".parquet") && !f.toString.contains("_checkpoint")) nFiles += 1
        }
        storeFiles = nFiles.toDouble
    }

    val gcDelta = gcMs() - gc0
    val peakHeapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    // ------------------------------------------------------------ metrics
    /** Nearest-rank percentile of op latencies with every op name weighted
      * equally, so a window that ends mid-cycle does not favour the ops
      * it happened to repeat. */
    def pct(xs: Seq[Op], p: Double): Double =
      if (xs.isEmpty) 0.0 else {
        val n = xs.groupBy(_.name).map { case (k, v) => k -> v.size.toDouble }
        val s = xs.sortBy(_.ms)
        val cum = s.scanLeft(0.0)((acc, o) => acc + 1.0 / n(o.name)).tail
        s(cum.indexWhere(_ >= p * cum.last - 1e-9)).ms
      }
    def median(xs: Seq[Double]): Double = {
      if (xs.isEmpty) 0.0 else {
        val s = xs.sorted
        if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
      }
    }
    val work = ops.filter(_.name != "audit")
    val untraced = work.filterNot(_.traced)
    val measured = if (trace) untraced else work
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val attempted = warmOps.size + ops.size
    val failed = warmOps.count(!_.ok) + ops.count(!_.ok)
    val setupS = sessionS + median(setupRounds) + warmS
    // Throughput and pass time come from per-op latencies with every op
    // name counted once, so they do not depend on where the window cut the
    // cycle. An ingest step is a micro-batch plus its dashboard read.
    def step(o: Op): Double = o.ms + o.extra.getOrElse("read_ms", 0.0)
    val byName = measured.groupBy(_.name).values.toSeq
    val passS = byName.map(v => median(v.map(step).toSeq)).sum / 1000.0
    val meanPassS = byName.map(v => v.map(step).sum / v.size).sum / 1000.0
    metrics("setup_s") = (setupS, "s")
    metrics("op_p50_ms") = (pct(measured.toSeq, 0.5), "ms")
    metrics("op_p90_ms") = (pct(measured.toSeq, 0.9), "ms")
    metrics("ops_per_s") = (byName.size / meanPassS, "1/s")
    metrics("wall_s") = (passS, "s")

    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (trace) {
      val traced = work.filter(_.traced)
      val n = math.max(1, traced.size).toDouble
      val spans = tracer.spans
      val opIds = traced.map(_.span).toSet
      def under(id: Int): Int = { // the op span a span belongs to
        var s = id
        while (s >= 0 && !opIds(s)) s = spans(s).parent
        s
      }
      def phaseOf(id: Int): String = {
        var s = id
        var kind = "op"
        while (s >= 0 && !opIds(s)) { kind = spans(s).kind; s = spans(s).parent }
        kind
      }
      // stream batches: attach each progress report to the op whose
      // interval holds the batch's midpoint (a trigger may start polling
      // just before the op adds its data)
      val batchOp = rec.batches.asScala.map { case (b, m) =>
        val mid = m("at") + m.getOrElse("triggerExecution", 0.0) / 2
        b -> traced.find(o => o.span >= 0 && spans(o.span).start <= mid &&
          mid <= spans(o.span).end).map(_.span).getOrElse(-1)
      }
      val jobs = rec.jobs.values.asScala.toSeq.flatMap { j =>
        val op = if (j.span >= 0) under(j.span) else batchOp.getOrElse(j.batch, -1)
        if (op >= 0) Some((j, op, if (j.span >= 0) phaseOf(j.span) else "stream")) else None
      }
      val stages = jobs.flatMap { case (j, op, ph) =>
        j.stages.flatMap(s => Option(rec.stages.get(s))).map(s => (s, j, op, ph)) }
      // record stream batches, jobs and stages as child spans
      val batchSpan = batchOp.collect { case (b, op) if op >= 0 =>
        val m = rec.batches.get(b)
        val sp = tracer.add("batch", s"batch $b", op, m("at"), m("at") + m.getOrElse("triggerExecution", 0.0))
        sp.attrs ++= m
        b -> sp.id
      }
      val jobSpan = jobs.map { case (j, op, _) =>
        val parent = if (j.span >= 0) j.span else batchSpan(j.batch)
        val s = tracer.add("job", j.site, parent, j.start, j.end)
        s.attrs ++= Seq("owner" -> j.owner, "job_id" -> j.id)
        if (j.batch >= 0) s.attrs("batch_id") = j.batch
        j.id -> s.id
      }.toMap
      stages.foreach { case (s, j, _, _) =>
        val sp = tracer.add("stage", s"stage ${s.id}", jobSpan(j.id), s.start, s.end)
        sp.attrs ++= Seq("tasks" -> s.tasks, "cpu_ms" -> s.cpuMs, "run_ms" -> s.runMs)
      }
      def phaseMs(kind: String): Double =
        spans.filter(s => s.kind == kind && opIds(under(s.id))).map(_.ms).sum
      val constructJobs = jobs.filter(_._3 == "construct")
      val schemaJobs = constructJobs.filter(_._1.owner == "sources.Tables")
      val constructSelf = spans.filter(s => s.kind == "construct" && opIds(under(s.id))).map { s =>
        s.ms - covered(s.start, s.end, constructJobs.filter(_._1.span == s.id).map(j => (j._1.start, j._1.end)))
      }.sum
      layers("queries.construct_ms") = (phaseMs("construct") / n, "ms/op")
      layers("queries.construct_self_ms") = (constructSelf / n, "ms/op")
      layers("queries.construct_jobs") = (constructJobs.size / n, "count/op")
      layers("sources.schema_jobs") = (schemaJobs.size / n, "count/op")
      layers("sources.schema_ms") = (schemaJobs.map(j => j._1.end - j._1.start).sum / n, "ms/op")
      def tracker(k: String) = spans.filter(s => s.kind == "plan" && opIds(under(s.id)))
        .map(_.attrs.getOrElse(k, 0.0).asInstanceOf[Double]).sum / n
      layers("plans.plan_ms") = (phaseMs("plan") / n, "ms/op")
      layers("plans.analysis_ms") = (tracker("analysis"), "ms/op")
      layers("plans.optimization_ms") = (tracker("optimization"), "ms/op")
      layers("plans.planning_ms") = (tracker("planning"), "ms/op")
      val st = stages.map(_._1)
      val opWall = traced.map(_.ms).sum
      layers("exec.execute_ms") = (phaseMs("execute") / n, "ms/op")
      layers("exec.task_cpu_ms") = (st.map(_.cpuMs).sum / n, "ms/op")
      layers("exec.task_run_ms") = (st.map(_.runMs).sum / n, "ms/op")
      layers("exec.busy_frac") = (if (opWall > 0) st.map(_.runMs).sum / (opWall * cpus) else 0.0, "ratio")
      layers("exec.shuffle_read_bytes") = (st.map(_.shRead).sum / n, "B/op")
      layers("exec.shuffle_write_bytes") = (st.map(_.shWrite).sum / n, "B/op")
      layers("exec.spill_bytes") = (st.map(_.spill).sum / n, "B/op")
      // per op, the longest stage that has more than one task
      val skews = stages.filter(_._1.tasks > 1).groupBy(_._3).values.map { ss =>
        val worst = ss.map(_._1).maxBy(s => s.end - s.start)
        val ts = Option(rec.taskMs.get(worst.id)).map(_.toSeq.map(_.toDouble)).getOrElse(Seq.empty)
        if (ts.isEmpty || median(ts) <= 0) 1.0 else ts.max / median(ts)
      }.toSeq
      layers("exec.task_skew") = (median(skews), "ratio")
      val resultRows = traced.map(_.rows).sum.toDouble
      layers("exec.rows_examined_per_result") =
        (if (resultRows > 0) st.map(_.inRecords).sum / resultRows else 0.0, "ratio")
      layers("exec.jobs") = (jobs.size / n, "count/op")
      layers("exec.stages") = (st.size / n, "count/op")
      layers("exec.tasks") = (st.map(_.tasks).sum / n, "count/op")
      val gaps = traced.map { o =>
        val s = spans(o.span)
        s.ms - covered(s.start, s.end, stages.filter(_._3 == o.span).map(x => (x._1.start, x._1.end)))
      }
      layers("exec.driver_gap_ms") = (gaps.sum / n, "ms/op")
      // stage CPU by launching file; the job spans in trace.json carry the
      // owner of every job, for operator files the workloads do not reach
      val byOwner = stages.groupBy(_._2.owner).map { case (k, v) => k -> v.map(_._1.cpuMs).sum }
      layers("operators.ApplicantPipeline.task_cpu_ms") =
        (byOwner.getOrElse("operators.ApplicantPipeline", 0.0) / n, "ms/op")
      Seq("sources", "streaming").foreach { l =>
        layers(s"$l.task_cpu_ms") = (byOwner.filter(_._1.startsWith(s"$l.")).values.sum / n, "ms/op") }
      val tracedBatches = batchOp.filter(_._2 >= 0).keys.toSeq.map(b => rec.batches.get(b))
      def dur(k: String*) = median(tracedBatches.map(m => k.map(m.getOrElse(_, 0.0)).sum))
      layers("streaming.trigger_ms") = (dur("triggerExecution"), "ms/batch")
      layers("streaming.add_batch_ms") = (dur("addBatch"), "ms/batch")
      layers("streaming.plan_ms") = (dur("queryPlanning"), "ms/batch")
      layers("streaming.commit_ms") = (dur("walCommit", "commitOffsets"), "ms/batch")
      val writeJobs = jobs.filter(_._1.write)
      val written = stages.map(_._1.outBytes).sum.toDouble
      layers("sources.store_write_ms") = (writeJobs.map(j => j._1.end - j._1.start).sum / n, "ms/op")
      layers("sources.store_write_bytes") = (written / n, "B/op")
      layers("sources.store_write_jobs") = (writeJobs.size / n, "count/op")
      val newBytes = traced.flatMap(_.extra.get("new_bytes")).sum
      layers("sources.write_amplification") = (if (newBytes > 0) written / newBytes else 0.0, "ratio")
      layers("sources.store_files") = (storeFiles, "count")
      layers("sources.read_files") = (median(traced.flatMap(_.extra.get("read_files")).toSeq), "count")
      layers("sources.read_p50_ms") = (median(traced.flatMap(_.extra.get("read_ms")).toSeq), "ms")
      layers("exec.cache_mb") = (warmCacheMb, "MB")
      layers("jvm.gc_ms") = (gcDelta / timedS, "ms/s")
      layers("jvm.peak_heap_mb") = (peakHeapMb, "MB")
      // tracing cost: traced ops (spans and the Spark listener) against
      // untraced ops of the same name, interleaved in this run; untraced
      // ops run with no Spark listener attached, as in an untraced run
      val paired = work.groupBy(_.name).values.flatMap { v =>
        val (t, u) = v.partition(_.traced)
        if (t.nonEmpty && u.nonEmpty) Some((median(t.map(_.ms).toSeq), median(u.map(_.ms).toSeq))) else None
      }.toSeq
      layers("trace.overhead_frac") =
        (if (paired.isEmpty) 0.0 else paired.map(_._1).sum / paired.map(_._2).sum - 1.0, "ratio")
      writeSpans(s"$out/trace.json", spans.toSeq)
    }

    recordTo.foreach { p =>
      Files.writeString(Paths.get(p), recorded.map { case (k, v) => s"$k\t${v.tsv}" }.mkString("", "\n", "\n"))
    }
    val perQuery = measured.groupBy(_.name).map { case (k, v) =>
      k -> median(v.map(_.ms).toSeq) }
    def units(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }
    val result = ListMap("workload" -> workload, "attempted" -> attempted,
      "failed" -> failed, "samples" -> measured.size, "timed_s" -> timedS,
      "setup_rounds_s" -> setupRounds, "warmup_s" -> warmS, "session_s" -> sessionS,
      "ncpus" -> cpus, "op_ms" -> measured.map(_.ms),
      "op_median_ms" -> ListMap(perQuery.toSeq.sortBy(_._1): _*),
      "failures" -> failures.take(50), "metrics" -> units(metrics), "layers" -> units(layers))
    Files.writeString(Paths.get(s"$out/result.json"), json(result) + "\n")
    spark.stop()
  }

  /** Length of [lo, hi] covered by the union of the intervals `iv`. */
  def covered(lo: Double, hi: Double, iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var at = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > at) { total += b - math.max(a, at); at = b }
      }
    total
  }

  def json(x: Any): String = x match {
    case d: Double => if (d.isNaN || d.isInfinite) "0" else d.toString
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, v) => s"${json(k.toString)}: ${json(v)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case s => "\"" + s.toString.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    } + "\""
  }

  def writeSpans(path: String, spans: Seq[Span]): Unit = {
    // self time: a span's duration minus the part its children cover
    val kids = spans.groupBy(_.parent)
    val lines = spans.map { s =>
      val cov = covered(s.start, s.end, kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
      json(ListMap("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> (s.ms - cov), "attrs" -> s.attrs))
    }
    Files.writeString(Paths.get(path), lines.mkString("[\n", ",\n", "\n]\n"))
  }
}
