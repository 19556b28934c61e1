package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Project}

import graft.{Clean, Clustering, Dedup, IoQueries, Kpis, Packing, Pipeline,
  PlanMemo, Quantization, Relational, Similarity, SparkEntry,
  StreamingQueries, Tables, Temporal, Text, TopKScoreId}

/** JVM side of the benchmark: one closed-loop client that issues one
  * full query plan at a time through the noop sink, in a fresh JVM.
  *
  * It records raw facts only — per-query start/end stamps, failures,
  * PlanMemo build counts per (query, pass) and, when tracing, spans and
  * listener counts — and writes them as one JSON file when the run
  * ends. `perfbench/metrics.py` turns them into metrics.
  *
  * Usage (run.py drives it):
  *   Harness <spec.properties>
  * where the spec names the data dir, the query list, the run dir,
  * the output file, the warm-pass budget and whether to trace.
  *
  * It lives in a subpackage of `graft` only to read the counters graft
  * keeps package-private (`PlanMemo.builds`, `PlanMemo.size`) and to
  * call the BPE rank-cursor kernel KernelBench times; it changes no
  * engine state.
  */
object Harness {

  // ---- clock: every stamp is epoch milliseconds as a double --------
  private val nano0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  // ---- spans (kept in memory, written when the run ends) ----------
  final case class Span(id: Int, parent: Int, name: String, trace: String,
      start: Double, end: Double)
  private val spans = ArrayBuffer.empty[Span]
  private var tracing = false
  private val stack = new java.util.ArrayDeque[Int]()

  /** Time `body` as a span under the innermost open span. Spans are
    * recorded only in a traced run; the body always runs.
    */
  def span[T](name: String, trace: String)(body: => T): T = {
    if (!tracing) return body
    val myId = nextSpanId()
    val parent = if (stack.isEmpty) -1 else stack.peek()
    stack.push(myId)
    val t0 = nowMs
    try body
    finally {
      stack.pop()
      spans.synchronized(spans += Span(myId, parent, name, trace, t0, nowMs))
      ()
    }
  }
  private var spanSeq = 0
  private def nextSpanId(): Int = { spanSeq += 1; spanSeq }

  // ---- listener-side records (traced runs) -------------------------
  /** Per trace id (`<query>#<pass>` or `layer#<name>`) task totals. */
  final class Agg {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, taskWallMs = 0L
    var inBytes, shufRead, shufWrite, spill, outBytes = 0L
  }
  private val aggs = new ConcurrentHashMap[String, Agg]()
  private def agg(t: String): Agg = aggs.computeIfAbsent(t, _ => new Agg)
  private val stageTrace = new ConcurrentHashMap[Int, String]()
  private val jobTrace = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Double]()
  /** (trace, start, end) per finished job — Par overlap and spans. */
  private val jobs = ArrayBuffer.empty[(String, Double, Double)]
  /** (start, analysis, optimization, planning, nodes, files) per QE. */
  private val catalyst = ArrayBuffer.empty[Array[Double]]
  /** (trigger start, duration map, state rows, state bytes). */
  private val triggers = ArrayBuffer.empty[(Double, Map[String, Long], Long, Long)]

  private val TraceKey = "perfbench.trace"

  private def traceOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(TraceKey))).getOrElse("")

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val t = traceOf(e.properties)
      jobTrace.put(e.jobId, t)
      jobStart.put(e.jobId, e.time.toDouble)
      e.stageIds.foreach(s => stageTrace.putIfAbsent(s, t))
      agg(t).synchronized(agg(t).jobs += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t = Option(jobTrace.get(e.jobId)).getOrElse("")
      val s = Option(jobStart.get(e.jobId)).getOrElse(e.time.toDouble)
      jobs.synchronized(jobs += ((t, s, e.time.toDouble)))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val t = traceOf(e.properties)
      if (t.nonEmpty) stageTrace.put(e.stageInfo.stageId, t)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val a = agg(Option(stageTrace.get(e.stageInfo.stageId)).getOrElse(""))
      a.synchronized(a.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = agg(Option(stageTrace.get(e.stageId)).getOrElse(""))
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        a.taskWallMs += e.taskInfo.duration
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.inBytes += m.inputMetrics.bytesRead
          a.shufRead += m.shuffleReadMetrics.totalBytesRead
          a.shufWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      // streaming progress of every session (drains run on a child
      // session) reaches the context-wide bus
      case p: StreamingQueryListener.QueryProgressEvent =>
        val pr = p.progress
        val start = java.time.Instant.parse(pr.timestamp).toEpochMilli.toDouble
        val dur = pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val ops = Option(pr.stateOperators).getOrElse(Array.empty)
        triggers.synchronized(triggers += ((start, dur,
          ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)))
      case _ =>
    }
  }

  /** Nodes of a physical plan, descending into adaptive plans, query
    * stages and subqueries (which the plain tree walk sees as leaves). */
  private def planNodes(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => 1 + planNodes(s.plan)
    case other => 1 + other.children.map(planNodes).sum +
      other.subqueries.map(planNodes).sum
  }

  private object CatalystListener extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      def d(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      val start = if (ph.isEmpty) nowMs else ph.values.map(_.startTimeMs).min.toDouble
      val plan = qe.executedPlan
      val files = plan.collect {
        case w: org.apache.spark.sql.execution.command.DataWritingCommandExec =>
          w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      catalyst.synchronized(catalyst += Array(start, d("analysis"),
        d("optimization"), d("planning"), planNodes(plan).toDouble,
        files.toDouble))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  // ---- per-query records (every run) -------------------------------
  final case class QRec(name: String, pass: Int, start: Double,
      end: Double, error: String, memoBuilds: Long, fingerprint: String,
      analysisMs: Long)

  private def fingerprint(df: DataFrame): String = {
    val s = df.queryExecution.optimizedPlan.treeString
      .replaceAll("#\\d+L?", "#")
      .replaceAll("file:[^\\],\\s]*", "file:")
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
  }

  private def firstLine(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)
      .linesIterator.take(1).mkString.take(300)

  /** One query of one pass: build the plan, execute it through the
    * noop sink, clear caches. A failure is recorded and its elapsed
    * time still counts.
    */
  def runQuery(spark: SparkSession, dir: String, name: String,
      fn: (SparkSession, String) => DataFrame, pass: Int): QRec = {
    val trace = s"$name#$pass"
    val sc = spark.sparkContext
    sc.setJobGroup(trace, trace)
    sc.setLocalProperty(TraceKey, trace)
    val builds0 = PlanMemo.builds
    val t0 = nowMs
    var err = ""
    var fp = ""
    var analysisMs = 0L
    span("query", trace) {
      try {
        val df = span("query.build", trace)(fn(spark, dir))
        span("query.exec", trace)(noop(df))
        if (tracing) {
          fp = fingerprint(df)
          // the plan's own analysis ran when `fn` built it, under the
          // frame's tracker; the listener sees only the write's phases
          analysisMs = df.queryExecution.tracker.phases.get("analysis")
            .map(_.durationMs).getOrElse(0L)
        }
      } catch { case e: Throwable => err = firstLine(e) }
      spark.catalog.clearCache()
    }
    val end = nowMs
    sc.clearJobGroup()
    sc.setLocalProperty(TraceKey, null)
    QRec(name, pass, t0, end, err, PlanMemo.builds - builds0, fp, analysisMs)
  }

  /** Time `body` three times (after one unrecorded warm-up) under a
    * `layer#name` trace; the per-rep spans carry the timings.
    */
  private def layer(spark: SparkSession, name: String)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    val trace = s"layer#$name"
    sc.setLocalProperty(TraceKey, trace)
    try {
      body
      (1 to 3).foreach(_ => span(name, trace)(body))
    } finally sc.setLocalProperty(TraceKey, null)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private val loaders: Map[String, (SparkSession, String) => DataFrame] = Map(
    "region" -> Tables.region, "nation" -> Tables.nation,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  /** Layers timed from outside after the passes (traced runs): table
    * loaders, the etl pipelines and each registered kernel over the
    * workload's own tables.
    */
  private def layers(spark: SparkSession, dir: String,
      out: ArrayBuffer[(String, Double)]): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.plans.logical.Repartition
    var rebalanced = 0
    loaders.toSeq.sortBy(_._1).foreach { case (t, load) =>
      val df = load(spark, dir)
      if (df.queryExecution.analyzed.exists(_.isInstanceOf[Repartition]))
        rebalanced += 1
      layer(spark, s"tables.$t.scan")(noop(load(spark, dir)))
    }
    out += "tables.rebalanced" -> rebalanced.toDouble

    layer(spark, "etl.features")(noop(Kpis.trips(spark, dir)))
    layer(spark, "etl.clean_strict")(noop(Clean.strict(Kpis.trips(spark, dir))))
    layer(spark, "etl.clean_light")(noop(Clean.light(Kpis.trips(spark, dir))))

    // kernels: each registered function evaluated row by row on the
    // driver over the workload's own rows, by the same generated
    // projection an executor runs, so per-row cost is not buried under
    // per-job overhead
    def rowsOf(df: DataFrame): Array[InternalRow] =
      df.queryExecution.toRdd.map(_.copy()).collect()
    def kernel(name: String, in: DataFrame, k: String, minEvals: Long): Unit = {
      val project = in.selectExpr(k).queryExecution.analyzed.asInstanceOf[Project]
      val proj = UnsafeProjection.create(
        BindReferences.bindReferences(project.projectList, project.child.output))
      val rows = rowsOf(in)
      val sweeps = math.max(1L, minEvals / rows.length)
      var sink = 0L
      layer(spark, s"kernel.$name") {
        var i = 0L
        while (i < sweeps) { rows.foreach(r => sink += proj(r).getSizeInBytes); i += 1 }
      }
      out += s"kernel.$name.evals" -> (sweeps * rows.length).toDouble
      out += s"kernel.$name.sink" -> sink.toDouble
    }
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    kernel("shingle_fps", docs, "shingle_fps(text)", 20000)
    kernel("span_fps", docs, "span_fps(text, 8)", 20000)
    val fps = docs.selectExpr("doc_id", "shingle_fps(text) AS fps")
    kernel("minhash_sigs", fps, "minhash_sigs(fps)", 20000)
    val pairs = fps.as("a").join(fps.as("b"),
        col("a.doc_id") + 1 === col("b.doc_id"))
      .select(col("a.fps").as("x"), col("b.fps").as("y"))
    kernel("sorted_inter_size", pairs, "sorted_inter_size(x, y)", 200000)
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding", "label")
    kernel("dot_product", emb, "dot_product(embedding, embedding)", 200000)
    // pq_encode against 16 centroids taken from the table itself, as a
    // foldable codebook literal (one subspace: a k-means assignment)
    val q = emb.selectExpr(
      "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q")
    val cents = q.limit(16).collect().map(_.getSeq[Long](0))
    val books = cents.map(_.mkString("array(", "L, ", "L)")).mkString("array(array(", ", ", "))")
    kernel("pq_encode", q, s"pq_encode(q, $books)", 200000)
    // topk_score_id is an aggregate: time its per-row update directly
    val scored = emb.selectExpr("vec_id", "CAST(element_at(embedding, 1) AS DOUBLE) AS score")
    val aggPlan = scored.groupBy().agg(expr("topk_score_id(score, vec_id, 10)"))
      .queryExecution.analyzed.asInstanceOf[Aggregate]
    val topk = BindReferences.bindReference(
      aggPlan.aggregateExpressions.head.collectFirst { case t: TopKScoreId => t }.get,
      aggPlan.child.output).asInstanceOf[TopKScoreId]
    val scoredRows = rowsOf(scored)
    val topSweeps = math.max(1L, 200000L / scoredRows.length)
    layer(spark, "kernel.topk") {
      var i = 0L
      while (i < topSweeps) {
        val buf = topk.createAggregationBuffer()
        scoredRows.foreach(r => topk.update(buf, r))
        i += 1
      }
    }
    out += "kernel.topk.evals" -> (topSweeps * scoredRows.length).toDouble

    // BPE rank-cursor encode (KernelBench's path) over the corpus words
    val words = docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().collect()
      .map(r => (r.getLong(1), r.getString(0).getBytes("UTF-8")
        .map("%02X".format(_)).mkString(" ")))
      .sortBy(_._2).toSeq
    val rules = Text.bpeTrainDriver(words, 1000).merges
      .map { case (_, l, r, _) => (l, r) }.toArray
    val rank = Text.bpeRankOf(rules)
    val syms = words.map(_._2).toArray
    var sink = 0L
    def encodeAll(): Unit = syms.foreach(s =>
      sink += Text.bpeEncodeSymsRank(s, rules, rank).length)
    val passes = math.max(1, 200000 / math.max(1, syms.length))
    layer(spark, "kernel.bpe_encode")((1 to passes).foreach(_ => encodeAll()))
    out += "kernel.bpe_encode.evals" -> (syms.length * passes).toDouble
    out += "kernel.bpe_encode.sink" -> sink.toDouble
  }

  // ---- run-space measurement ---------------------------------------
  /** Bytes of the regular files under `p`. */
  private def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size(_)).sum
      finally w.close()
    }

  private def procField(file: String, key: String): Long =
    scala.io.Source.fromFile(file).getLines()
      .find(_.startsWith(key)).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** utime + stime of this process in clock ticks (/proc/self/stat). */
  private def selfTicks(): Long = {
    val s = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
    val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
    f(11).toLong + f(12).toLong
  }

  // ---- JSON output ---------------------------------------------------
  private def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def main(args: Array[String]): Unit = {
    val mainMs = nowMs
    val spec = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(args(0)))
    try spec.load(in) finally in.close()
    def p(k: String) = spec.getProperty(k)
    val dir = p("data")
    val runDir = Paths.get(p("rundir"))
    val cores = p("cores")
    tracing = p("trace") == "1"

    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.local.dir", runDir.resolve("local").toString)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = nowMs
    // the same warm-up job graft.Bench runs before measuring
    spark.range(1000000).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()
    val readyMs = nowMs
    val sb = new StringBuilder
    sb ++= s"""{"main_ms":${num(mainMs)},"session_ms":${num(sessionMs)},""" +
      s""""ready_ms":${num(readyMs)}"""
    if (tracing) {
      spark.sparkContext.addSparkListener(Listener)
      spark.listenerManager.register(CatalystListener)
    }
    val all = SparkEntry.queries
    val names = p("queries").split(",").toSeq
    val seconds = p("seconds").toDouble
    val minWarm = p("min_warm").toInt
    val recs = ArrayBuffer.empty[QRec]
    val passes = ArrayBuffer.empty[(Int, Double, Double)]
    def pass(i: Int): Unit = {
      val t0 = nowMs
      names.foreach(n => recs += runQuery(spark, dir, n, all(n), i))
      passes += ((i, t0, nowMs))
    }
    pass(0) // cold: empty PlanMemo, no artifacts
    val warm0 = nowMs
    var i = 1
    while (i <= minWarm || nowMs - warm0 < seconds * 1000) { pass(i); i += 1 }

    // bytes the run left in its own space (published artifacts under
    // java.io.tmpdir, saved/bucketed tables under the warehouse)
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val published = Files.list(tmp).iterator().asScala
      .filter(_.getFileName.toString.startsWith("graft_published")).toSeq
    val artBytes = published.map(du).sum
    // <graft_published*>/<corpus key>/<artifact name>
    val artNames = published.flatMap(r => Files.list(r).iterator().asScala
      .flatMap(k => Files.list(k).iterator().asScala)).size
    val warehouse = runDir.resolve("warehouse")
    val whBytes = du(warehouse)
    val whTables = Files.list(warehouse).count()
    val memoEntries = PlanMemo.size

    val layerOut = ArrayBuffer.empty[(String, Double)]
    if (tracing) layers(spark, dir, layerOut)

    // correctness: every query's result, outside the timed passes
    val resDir = runDir.resolve("results")
    val verifyErr = names.flatMap { n =>
      try {
        all(n)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(resDir.resolve(n).toString)
        None
      } catch { case e: Throwable => Some(n -> firstLine(e)) }
      finally spark.catalog.clearCache()
    }
    val oracle = SparkEntry.oracleSql.filter(o => names.contains(o._1))
    spark.stop() // drains the listener bus

    val hwmKb = procField("/proc/self/status", "VmHWM:")
    sb ++= s""","ticks":${selfTicks()},"rss_hwm_kb":$hwmKb"""
    sb ++= s""","artifact":{"names":$artNames,"bytes":$artBytes,""" +
      s""""tables":$whTables,"table_bytes":$whBytes,""" +
      s""""memo_entries":$memoEntries}"""
    sb ++= passes.map { case (i, s, e) => s"[$i,${num(s)},${num(e)}]" }
      .mkString(""","passes":[""", ",", "]")
    sb ++= recs.map { r =>
      s"""{"name":${js(r.name)},"pass":${r.pass},"start":${num(r.start)},""" +
        s""""end":${num(r.end)},"error":${js(r.error)},""" +
        s""""memo_builds":${r.memoBuilds},"fp":${js(r.fingerprint)},""" +
        s""""analysis_ms":${r.analysisMs}}"""
    }.mkString(""","queries":[""", ",", "]")
    val families = Seq("kpis" -> Kpis.queries, "relational" -> Relational.queries,
      "temporal" -> Temporal.queries, "ioqueries" -> IoQueries.queries,
      "dedup" -> Dedup.queries, "text" -> Text.queries,
      "pipeline" -> Pipeline.queries, "packing" -> Packing.queries,
      "similarity" -> Similarity.queries,
      "quantization" -> Quantization.queries,
      "clustering" -> Clustering.queries,
      "streamingqueries" -> StreamingQueries.queries)
    sb ++= names.map { n =>
      s"${js(n)}:${js(families.find(_._2.contains(n)).map(_._1).getOrElse("other"))}"
    }.mkString(""","families":{""", ",", "}")
    sb ++= verifyErr.map { case (n, e) => s"${js(n)}:${js(e)}" }
      .mkString(""","verify_errors":{""", ",", "}")
    sb ++= oracle.map { case (n, s) => s"${js(n)}:${js(s)}" }
      .mkString(""","oracle_sql":{""", ",", "}")
    if (tracing) {
      sb ++= spans.map { s =>
        s"""[${s.id},${s.parent},${js(s.name)},${js(s.trace)},${num(s.start)},${num(s.end)}]"""
      }.mkString(""","spans":[""", ",", "]")
      sb ++= jobs.map { case (t, s, e) => s"[${js(t)},${num(s)},${num(e)}]" }
        .mkString(""","jobs":[""", ",", "]")
      sb ++= aggs.asScala.toSeq.map { case (t, a) =>
        s"""${js(t)}:{"jobs":${a.jobs},"stages":${a.stages},"tasks":${a.tasks},""" +
          s""""run_ms":${a.runMs},"cpu_ns":${a.cpuNs},"gc_ms":${a.gcMs},""" +
          s""""task_wall_ms":${a.taskWallMs},"input_bytes":${a.inBytes},""" +
          s""""shuffle_read_bytes":${a.shufRead},"shuffle_write_bytes":${a.shufWrite},""" +
          s""""spill_bytes":${a.spill},"output_bytes":${a.outBytes}}"""
      }.mkString(""","aggs":{""", ",", "}")
      sb ++= catalyst.map(_.map(num).mkString("[", ",", "]"))
        .mkString(""","catalyst":[""", ",", "]")
      sb ++= triggers.map { case (s, d, rows, mem) =>
        val dm = d.map { case (k, v) => s"${js(k)}:$v" }.mkString("{", ",", "}")
        s"""[${num(s)},$dm,$rows,$mem]"""
      }.mkString(""","triggers":[""", ",", "]")
      sb ++= layerOut.map { case (k, v) => s"${js(k)}:${num(v)}" }
        .mkString(""","layer_values":{""", ",", "}")
    }
    sb ++= "}"
    Files.writeString(Paths.get(p("out")), sb.toString)
    sys.exit(0)
  }
}
