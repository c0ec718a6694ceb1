package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.engine.GraftSession
import graft.functions.HashExpressions
import graft.sources.Tables

/** The benchmark's JVM side. It calls only the program's public entry
  * points (`GraftSession.local`, `SparkEntry.queries`, `Tables.*`,
  * `HashExpressions.*`) and watches them through its own listeners.
  *
  * A run: set up `--setups` times (each a fresh session, a warm-up job
  * and a noop-sink read of every input table), one cold pass over the
  * keys (each key's rows are then written for the oracle compare, outside
  * the timed region), one untimed warm-up pass, then warm passes until
  * `--seconds` have passed (at least three). With `--trace 1` the cold
  * pass and the even warm passes record spans and per-layer counters, and
  * the hash kernels are timed at the end, after one traced "probe" pass
  * over `--probe-keys` (keys run only for their operator counters).
  * Everything raw goes to `<out>/result.json`; the arithmetic over it
  * lives in `perfbench/stats.py`.
  *
  * {{{
  * java ... graftbench.Main --workload W --data DIR --out DIR --seconds S
  *   --trace 0|1 --keys k1,k2 --tables t1,t2 --setups N [--probe-keys k3,k4]
  * }}}
  */
object Main {

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Wall clock in epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS(): Double = osBean.getProcessCpuTime / 1e9
  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Spark's codegen counters: compile count (exact) and summed compile
    * milliseconds (from a histogram reservoir, so approximate). */
  def codegen(): (Long, Double) = {
    val t = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (t.getCount, t.getSnapshot.getValues.sum.toDouble / 1e3)
  }

  /** Files and bytes read by file scans and written by file writes in an
    * executed plan, from the scans' and writers' SQL metrics, through
    * adaptive stages and subqueries. Keys: files_read, bytes_read,
    * files_written, bytes_written. */
  def planFiles(plan: SparkPlan): Map[String, Long] = {
    val names = Map("number of files read" -> "files_read", "size of files read" -> "bytes_read",
      "number of written files" -> "files_written", "written output" -> "bytes_written")
    val acc = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def count(ms: Iterable[SQLMetric]): Unit =
      ms.foreach(m => m.name.flatMap(names.get).foreach(k => acc(k) += m.value))
    def walk(n: SparkPlan): Unit = {
      count(n.metrics.values)
      n match {
        case d: DataWritingCommandExec => count(d.cmd.metrics.values)
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ => ()
      }
      n.children.foreach(walk)
      n.subqueries.foreach(walk)
    }
    walk(plan)
    names.values.map(k => k -> acc(k)).toMap
  }

  val loaders: Map[String, (SparkSession, String) => DataFrame] = Map(
    "region" -> Tables.region, "nation" -> Tables.nation,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  final case class Args(workload: String, data: String, out: String, seconds: Double,
                        trace: Boolean, keys: Seq[String], tables: Seq[String], setups: Int,
                        probeKeys: Seq[String])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("workload"), req("data"), req("out"), req("seconds").toDouble,
      m.get("trace").contains("1"), req("keys").split(",").toSeq,
      m.get("tables").map(_.split(",").toSeq).getOrElse(Nil),
      m.get("setups").map(_.toInt).getOrElse(3),
      m.get("probe-keys").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val bootS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val unknown = (a.keys ++ a.probeKeys).filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(",")}")
    Files.createDirectories(Paths.get(a.out, "rows"))
    val oracle = a.keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap
    Files.writeString(Paths.get(a.out, "oracle_sql.json"), Json(oracle))

    // --- set-up, several times; the last session is kept -----------------
    val setups = mutable.ArrayBuffer.empty[Map[String, Any]]
    var spark: SparkSession = null
    (1 to a.setups).foreach { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.local()
      val t1 = System.nanoTime()
      spark.range(1000000).selectExpr("sum(id)").collect()
      val t2 = System.nanoTime()
      a.tables.foreach(t => loaders(t)(spark, a.data).write.format("noop").mode("overwrite").save())
      val t3 = System.nanoTime()
      setups += Map("session_s" -> (t1 - t0) / 1e9, "warmup_s" -> (t2 - t1) / 1e9,
        "reads_s" -> (t3 - t2) / 1e9)
      System.err.println(f"[bench] setup $i: ${(t3 - t0) / 1e9}%.2fs")
    }
    val cores = spark.sparkContext.defaultParallelism

    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    spark.streams.addListener(probe.streams)
    val actions = new ActionListener
    val spans = new Spans

    val fns = a.keys.map(k => k -> SparkEntry.queries(k))
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]

    def runPass(label: String, traced: Boolean, writeRows: Boolean,
                fns: Seq[(String, (SparkSession, String) => DataFrame)]): Unit = {
      System.gc()
      GraftBenchBus.drain(spark.sparkContext)
      probe.reset(traced)
      if (traced) spark.listenerManager.register(actions)
      actions.reset()
      val (cg0, cgs0) = codegen()
      val files = mutable.Map.empty[String, Long].withDefaultValue(0L)
      val cpu0 = cpuS(); val gc0 = gcS()
      val passStart = nowMs()
      val t0 = System.nanoTime()
      var writeS = 0.0 // the rows written for the oracle compare are not timed
      val keys = fns.map { case (k, fn) =>
        probe.currentKey = k
        if (traced) graft.Metrics.clear()
        val r = timeKey(spark, a.data, fn)
        var rec = r.record + ("key" -> k)
        if (traced) {
          rec += ("observed" -> observed(r.df))
          if (r.error.isEmpty)
            planFiles(r.df.queryExecution.executedPlan).foreach { case (f, v) => files(f) += v }
        }
        if (writeRows && r.error.isEmpty) {
          val w0 = System.nanoTime()
          rec += ("write_error" -> writeRowsFor(r.df, a.out, k))
          writeS += (System.nanoTime() - w0) / 1e9
        }
        if (traced) spans.key(label, k, r)
        System.err.println(f"[bench] $label $k ${r.totalS}%.3fs rows=${r.rows}" +
          r.error.map(e => s" FAILED: $e").getOrElse(""))
        rec
      }
      val wall = (System.nanoTime() - t0) / 1e9 - writeS
      val passEnd = nowMs()
      val cpu1 = cpuS(); val gc1 = gcS()
      val (cg1, cgs1) = codegen()
      GraftBenchBus.drain(spark.sparkContext)
      if (traced) spark.listenerManager.unregister(actions)
      probe.currentKey = null
      val jobs = probe.jobList
      if (traced) spans.pass(label, passStart, passEnd, jobs, probe.progressList)
      passes += Map(
        "label" -> label, "traced" -> traced, "wall_s" -> wall,
        "cpu_s" -> (cpu1 - cpu0), "gc_s" -> (gc1 - gc0),
        "codegen_compiles" -> (cg1 - cg0), "codegen_s" -> math.max(cgs1 - cgs0, 0.0),
        "files" -> actions.files.map { case (f, v) => f -> (v + files(f)) },
        "counters" -> probe.counterMap, "keys" -> keys,
        "streams" -> probe.progressList.map(_.toMap),
        "jobs" -> (if (traced) jobs.map(_.toMap) else Nil),
        "actions" -> actions.count)
      System.err.println(f"[bench] $label pass ${wall}%.2fs")
    }

    runPass("cold", traced = a.trace, writeRows = true, fns)
    // lets the JIT settle: the first passes after the cold one still run
    // 10-15% faster each
    runPass("warmup", traced = false, writeRows = false, fns)
    val warmStart = System.nanoTime()
    var n = 0
    val minPasses = 3
    while (n < minPasses || (System.nanoTime() - warmStart) / 1e9 < a.seconds) {
      n += 1
      runPass(s"warm$n", traced = a.trace && n % 2 == 0, writeRows = false, fns)
    }
    if (a.trace && a.probeKeys.nonEmpty)
      runPass("probe", traced = true, writeRows = false,
        a.probeKeys.map(k => k -> SparkEntry.queries(k)))

    val kernels = if (a.trace) Kernels.run(spark, a.data) else Map.empty[String, Any]
    val result = Map(
      "workload" -> a.workload, "cores" -> cores, "boot_s" -> bootS,
      "setups" -> setups.toSeq, "passes" -> passes.toSeq,
      "peak_rss_mb" -> peakRssMb(), "kernels" -> kernels,
      "spans" -> (if (a.trace) spans.all else Nil))
    Files.writeString(Paths.get(a.out, "result.json"), Json(result))
    spark.stop()
  }

  /** One key execution, timed in three phases: building the DataFrame
    * (`SparkEntry.queries(k)(spark, dir)` — the streaming drains run their
    * micro-batches here), forcing the physical plan, and executing every
    * output row of that plan (`toRdd.count()`, which prunes no columns).
    * The process CPU spent meanwhile is kept with it. A failure keeps the
    * time spent up to it. */
  final case class KeyRun(df: DataFrame, startMs: Double, marks: Seq[Double],
                          rows: Long, error: Option[String], cpuS: Double) {
    def totalS: Double = (marks.last - startMs) / 1e3
    def record: Map[String, Any] = {
      val ph = (startMs +: marks).sliding(2).map(p => (p(1) - p(0)) / 1e3).toSeq
      Map("build_s" -> ph(0), "plan_s" -> ph(1), "exec_s" -> ph(2), "total_s" -> totalS,
        "cpu_s" -> cpuS, "rows" -> rows, "error" -> error.orNull, "start_ms" -> startMs,
        "end_ms" -> marks.last)
    }
  }

  def timeKey(spark: SparkSession, dir: String,
              fn: (SparkSession, String) => DataFrame): KeyRun = {
    val cpu0 = cpuS()
    val start = nowMs()
    val marks = mutable.ArrayBuffer.empty[Double]
    var df: DataFrame = null
    var rows = -1L
    val err = try {
      df = fn(spark, dir); marks += nowMs()
      df.queryExecution.executedPlan; marks += nowMs()
      rows = df.queryExecution.toRdd.count(); marks += nowMs()
      None
    } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}".take(500)) }
    while (marks.size < 3) marks += nowMs()
    KeyRun(df, start, marks.toSeq, rows, err, cpuS() - cpu0)
  }

  /** Rows of a key for the oracle compare (one parquet file per key, as
    * `graft.Verify` writes them); returns the error text on failure. */
  def writeRowsFor(df: DataFrame, out: String, key: String): String =
    try { df.coalesce(1).write.mode("overwrite").parquet(s"$out/rows/$key"); null }
    catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}".take(500) }

  /** The key's own `observe()` results plus what `graft.Metrics` gathered
    * from the program's internal actions and driver-side counters. */
  def observed(df: DataFrame): Map[String, Any] = {
    def flat(name: String, fields: Map[String, Any]) = fields.collect {
      case (f, v: java.lang.Number) => s"$name.$f" -> v.doubleValue
    }
    val top = if (df == null) Map.empty[String, Double] else
      scala.util.Try(df.queryExecution.observedMetrics).getOrElse(Map.empty).flatMap {
        case (raw, row) =>
          flat(raw.split('#').head, row.schema.fieldNames.zip(row.toSeq).toMap)
      }
    val internal = graft.Metrics.snapshot.flatMap { case (n, f) => flat(n, f) }
    (internal.toSeq ++ top.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
  }

  def peakRssMb(): Double =
    scala.util.Try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(-1.0)
}

/** A finished Spark job: epoch-ms interval and the job description the
  * program set (`withDesc`), which names the drain phase. */
final case class JobRec(id: Int, startMs: Double, endMs: Double, desc: String) {
  def phase: Option[String] = JobRec.phaseOf(desc)
  def toMap: Map[String, Any] = Map("id" -> id, "start_ms" -> startMs, "end_ms" -> endMs,
    "desc" -> desc, "phase" -> phase.orNull)
}

object JobRec {
  /** Drain phase from the programs' job labels: `<st>.guard: …`;
    * `cycle: batch signatures` and `cycle: probe+spool`; `cycle: verdict
    * spool` and `cycle: clean spool`; `cycle: absorb …`. */
  def phaseOf(d: String): Option[String] =
    if (d.contains(".guard:")) Some("guard")
    else if (d.startsWith("cycle: batch signatures") || d.startsWith("cycle: probe+spool"))
      Some("probe")
    else if (d.startsWith("cycle: verdict spool") || d.startsWith("cycle: clean spool"))
      Some("spool")
    else if (d.startsWith("cycle: absorb")) Some("absorb")
    else None
}

/** One stream micro-batch as its progress event reports it. */
final case class Progress(key: String, query: String, batch: Long, startMs: Double,
                          durations: Map[String, Long], inputRows: Long,
                          stateRows: Long, stateBytes: Long) {
  def endMs: Double = startMs + durations.getOrElse("triggerExecution", 0L)
  def toMap: Map[String, Any] = Map("key" -> key, "query" -> query, "batch" -> batch,
    "start_ms" -> startMs, "end_ms" -> endMs, "durations" -> durations,
    "input_rows" -> inputRows, "state_rows" -> stateRows, "state_bytes" -> stateBytes)
}

/** Per-pass counters from the scheduler's task, stage and job events, and
  * stream progress. Job intervals are kept only in traced passes. */
final class Probe extends SparkListener {
  @volatile var currentKey: String = _
  @volatile private var traced = false
  private val names = Seq("jobs", "stages", "tasks", "task_ms", "shuffle_read_b",
    "shuffle_write_b", "spill_b", "result_b", "records_read")
  private val c = new Array[Long](names.size)
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, (Double, String)]()
  private val done = new ConcurrentLinkedQueue[JobRec]()
  private val progress = new ConcurrentLinkedQueue[Progress]()

  private def add(i: Int, v: Long): Unit = c.synchronized { c(i) += v }
  def reset(tracedPass: Boolean): Unit = {
    c.synchronized(java.util.Arrays.fill(c, 0L))
    open.clear(); done.clear(); progress.clear(); traced = tracedPass
  }
  def counterMap: Map[String, Long] = c.synchronized(names.zip(c).toMap)
  def jobList: Seq[JobRec] = done.asScala.toSeq.sortBy(_.id)
  def progressList: Seq[Progress] = progress.asScala.toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) {
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
    open.put(e.jobId, (e.time.toDouble, desc.getOrElse("")))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    add(0, 1)
    val s = open.remove(e.jobId)
    if (s != null) done.add(JobRec(e.jobId, s._1, e.time.toDouble, s._2))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add(1, 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add(2, 1)
    val m = e.taskMetrics
    if (m != null) c.synchronized {
      c(3) += m.executorRunTime
      c(4) += m.shuffleReadMetrics.totalBytesRead; c(5) += m.shuffleWriteMetrics.bytesWritten
      c(6) += m.diskBytesSpilled; c(7) += m.resultSize
      c(8) += m.inputMetrics.recordsRead
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = Option(p.stateOperators).getOrElse(Array.empty)
      progress.add(Progress(currentKey, Option(p.name).getOrElse(p.id.toString), p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))
    }
  }
}

/** Counts the Dataset actions the program runs inside a key (collects,
  * writes) and the files they read and wrote; registered in traced
  * passes only. */
final class ActionListener extends QueryExecutionListener {
  @volatile var count = 0L
  private val acc = mutable.Map.empty[String, Long].withDefaultValue(0L)
  def files: Map[String, Long] = synchronized(
    Seq("files_read", "bytes_read", "files_written", "bytes_written").map(k => k -> acc(k)).toMap)
  def reset(): Unit = synchronized { count = 0; acc.clear() }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
    val fs = scala.util.Try(Main.planFiles(qe.executedPlan)).getOrElse(Map.empty[String, Long])
    synchronized { count += 1; fs.foreach { case (k, v) => acc(k) += v } }
  }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    synchronized { count += 1 }
}

/** Spans of traced passes, kept in memory and written when the run ends.
  * Tree: pass → key → build | plan | exec → stream micro-batch → drain
  * phase → Spark job. Every span of one key execution carries that key
  * span's id as `trace`. Jobs and micro-batches come from listener events
  * and are placed under the innermost span whose interval holds their
  * start. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var nextId = 0
  private def add(kind: String, name: String, start: Double, end: Double, parent: Int,
                  trace: Int, attrs: Map[String, Any] = Map.empty): Int = {
    nextId += 1
    buf += Map("id" -> nextId, "parent" -> parent, "trace" -> trace, "kind" -> kind,
      "name" -> name, "start_ms" -> start, "end_ms" -> end) ++ attrs
    nextId
  }
  private var openKeys = mutable.ArrayBuffer.empty[(Int, String, Seq[(Int, Double, Double)])]

  /** Record one key execution (its spans are parented once the pass ends). */
  def key(pass: String, key: String, r: Main.KeyRun): Unit = {
    val id = add("key", key, r.startMs, r.marks.last, 0, nextId + 1, Map("pass" -> pass))
    val bounds = (r.startMs +: r.marks).sliding(2).toSeq
    val kids = Seq("build", "plan", "exec").zip(bounds).map { case (ph, b) =>
      (add(ph, ph, b(0), b(1), id, id), b(0), b(1))
    }
    openKeys += ((id, key, kids))
  }

  /** Close a traced pass: add its span and parent its jobs and batches. */
  def pass(label: String, start: Double, end: Double, jobs: Seq[JobRec],
           batches: Seq[Progress]): Unit = {
    val passId = add("pass", label, start, end, 0, 0)
    val keys = openKeys.toSeq
    openKeys = mutable.ArrayBuffer.empty
    keys.foreach { case (kid, _, _) =>
      val i = buf.indexWhere(_("id") == kid); buf(i) = buf(i) + ("parent" -> passId)
    }
    def within(t: Double, s: Double, e: Double) = t >= s - 1 && t <= e + 1
    val batchSpans = batches.flatMap { b =>
      keys.flatMap { case (kid, _, kids) =>
        kids.find { case (_, s, e) => within(b.startMs, s, e) }.map { case (pid, _, _) =>
          val id = add("batch", s"${b.key}#${b.batch}", b.startMs, b.endMs, pid, kid,
            Map("input_rows" -> b.inputRows))
          (id, kid, b.startMs, b.endMs)
        }
      }.headOption
    }
    // phases: the jobs of one batch that share a phase label
    val placed = jobs.map { j =>
      val batch = batchSpans.find { case (_, _, s, e) => within(j.startMs, s, e) }
      val keyPhase = keys.flatMap { case (kid, _, kids) =>
        kids.find { case (_, s, e) => within(j.startMs, s, e) }.map(k => (k._1, kid))
      }.headOption
      (j, batch, keyPhase)
    }
    val phaseIds = mutable.Map.empty[(Int, String), Int]
    placed.groupBy { case (j, b, _) => (b.map(_._1), j.phase) }.foreach {
      case ((Some(bid), Some(ph)), js) =>
        val kid = js.head._2.get._2
        phaseIds((bid, ph)) = add("phase", ph, js.map(_._1.startMs).min,
          js.map(_._1.endMs).max, bid, kid)
      case _ => ()
    }
    placed.foreach { case (j, b, kp) =>
      val (parent, trace) = b match {
        case Some((bid, kid, _, _)) =>
          (j.phase.flatMap(p => phaseIds.get((bid, p))).getOrElse(bid), kid)
        case None => kp.getOrElse((passId, 0))
      }
      add("job", j.desc, j.startMs, j.endMs, parent, trace, Map("job_id" -> j.id))
    }
  }

  def all: Seq[Map[String, Any]] = buf.toSeq
}

/** Noop-sink projections of the public hash kernels over the run's
  * documents and embeddings, each minus a projection of its bare input. */
object Kernels {
  def run(spark: SparkSession, dir: String): Map[String, Any] = {
    // inputs repeated to about 20k rows and cached, so a projection times
    // the kernel rather than the scan
    def repeated(df: DataFrame): DataFrame = {
      val n = df.count()
      val r = df.crossJoin(spark.range(math.max(1L, 20000L / math.max(n, 1L))).toDF("r")).cache()
      r.count(); r
    }
    val docs = repeated(Tables.documents(spark, dir)
      .select(col("text"), split(col("text"), " ").as("tokens")))
    val vecs = repeated(Tables.embeddings(spark, dir).select(col("embedding")))
    val nDocs = docs.count(); val nVecs = vecs.count()
    def timeNoop(df: DataFrame): Double = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      ts.sorted.apply(1)
    }
    val text = col("text"); val tokens = col("tokens"); val emb = col("embedding")
    val baseText = timeNoop(docs.select(text)); val baseTok = timeNoop(docs.select(tokens))
    val baseVec = timeNoop(vecs.select(emb))
    val cases = Seq(
      ("minhash", docs, HashExpressions.minhash(array_distinct(tokens), 64), baseTok, nDocs),
      ("simhash", docs, HashExpressions.simhash(tokens), baseTok, nDocs),
      ("char_stats", docs, HashExpressions.charStats(text), baseText, nDocs),
      ("ngrams", docs, HashExpressions.ngrams(tokens, 3), baseTok, nDocs),
      ("cosine", vecs, HashExpressions.cosine(emb, emb), baseVec, nVecs),
      ("int8_codes", vecs, HashExpressions.int8Codes(emb), baseVec, nVecs))
    val out = cases.map { case (name, df, k, base, n) =>
      val t = timeNoop(df.select(k.as("k")))
      name -> Map("seconds" -> t, "base_seconds" -> base, "rows" -> n)
    }.toMap
    docs.unpersist(); vecs.unpersist()
    out
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
